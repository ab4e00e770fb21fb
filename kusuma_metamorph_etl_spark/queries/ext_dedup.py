"""[EXT] deduplication queries (exact/normalized, MinHash LSH,
SimHash, substring, semantic, connected components) — split from
``ext.py`` (r13)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.operators import dedup, similarity, text
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.queries.ext_common import (
    _SHINGLES,
    _W_LOWER,
    _W_TEXT,
    _gate,
    _n,
)

@register(
    "dedup_decontaminate",
    r"""WITH w AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      x -> x <> '') AS w
                   FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(range(len(w) - 4),
                         i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4],
                                        w[i+5])))) AS gram
              FROM w WHERE len(w) >= 5),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
        hits AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
                 WHERE g.doc_id % 20 <> 0)
        SELECT doc_id, source FROM documents
        WHERE doc_id % 20 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM hits)""",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination ([EXT]): drop corpus docs sharing any
    word 5-gram with a held-out 'benchmark' slice (docs with id % 20 == 0
    stand in) — the n-gram-collision test-set hygiene rule for LLM
    training corpora (`operators/dedup.py::decontaminate`).  String grams
    here for oracle parity; production uses hash_grams=True."""
    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.decontaminate(corpus, bench, n=5, hash_grams=False).select(
        "doc_id", "source"
    )

@register(
    "dedup_incremental",
    """SELECT d.doc_id, d.source FROM documents d
       WHERE d.source = 'src0'
         AND NOT EXISTS (SELECT 1 FROM documents h
                         WHERE h.source <> 'src0'
                           AND md5(h.text) = md5(d.text))""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup ([EXT]): today's batch (src0) anti-joined
    against history fingerprints (`operators/dedup.py::incremental_dedup`)."""
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == "src0")
    history = docs.filter(F.col("source") != "src0")
    return dedup.incremental_dedup(new, history).select("doc_id", "source")

@register(
    "dedup_bloom_incr",
    """SELECT d.doc_id, d.source FROM documents d
       WHERE d.source = 'src0'
         AND NOT EXISTS (SELECT 1 FROM documents h
                         WHERE h.source <> 'src0'
                           AND md5(h.text) = md5(d.text))""",
)
def dedup_bloom_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup ([EXT] scale twin of
    `dedup_incremental` — `operators/dedup.py::bloom_incremental_dedup`):
    history compresses into a distributed (word_idx, bits) Bloom table
    (~10 bits/doc at fpp=0.01) that the new batch probes map-side; only
    the maybe-seen sliver pays the exact verify anti-join.  Bloom
    filters have no false negatives and the verify join removes the
    false positives, so the output — and therefore the SQL oracle — is
    IDENTICAL to the plain anti-join's: same hash, not an `_err` bound.
    """
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == "src0")
    history = docs.filter(F.col("source") != "src0")
    return dedup.bloom_incremental_dedup(new, history).select(
        "doc_id", "source"
    )

# ---------------------------------------------------------------- deduplication

@register(
    "dedup_exact",
    "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup — lowest-id representative per fingerprint."""
    docs = t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id")

@register(
    "dedup_exact_survivor",
    f"""WITH q AS (
          SELECT doc_id, text,
                 length(text) AS n_chars,
                 len({_W_TEXT}) AS n_tokens,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                 len(list_filter({_W_LOWER},
                     x -> x IN ('the','a','and','of','to','in','is','it')))
                     AS n_stop
          FROM documents),
        s AS (SELECT doc_id, text,
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
        r AS (SELECT doc_id, quality_score,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY quality_score DESC NULLS LAST,
                                                 doc_id)
                         AS rn
              FROM s)
        SELECT doc_id, quality_score FROM r WHERE rn = 1""",
)
def dedup_exact_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority exact dedup ([EXT], r15): the highest
    `txt_quality` composite score survives each exact-duplicate cluster,
    lowest id breaking ties — the RefinedWeb/FineWeb keep-the-best-copy
    rule (`dedup.exact_dedup(survivor_by=...)`), instead of the arbitrary
    lowest-id representative.  Spark side is ONE map-side-combinable
    arg-max aggregate (min of a (q IS NULL, -q, id) struct — the null
    flag pins NULLS-LAST semantics, r16 ADVICE fix) on (md5, score, id)
    tuples; the oracle replays it as a row_number window, which is
    deterministic because the score is rounded to 6 dp in both engines
    and ties fall to doc_id."""
    docs = t(spark, sf_dir, "documents")
    scored = text.quality_features(docs)
    return dedup.exact_dedup(scored, survivor_by="quality_score").select(
        "doc_id", "quality_score"
    )

@register(
    "dedup_ngram_jaccard",
    f"""WITH s AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_W_TEXT} AS w FROM documents)),
        e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
        common AS (
          SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
          FROM e l JOIN e r USING (shingle)
          WHERE l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a, b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(sa.n AS BIGINT) AS na,
               CAST(sb.n AS BIGINT) AS nb,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.1 via inverted-index self-join."""
    docs = t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, threshold=0.1).select(
        "a", "b", "n_common", "na", "nb", "jaccard"
    )

@register(
    "dedup_containment",
    f"""WITH s AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_W_TEXT} AS w FROM documents)),
        e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
        common AS (
          SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
          FROM e l JOIN e r USING (shingle)
          WHERE l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a, b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_common AS DOUBLE) / least(sa.n, sb.n) AS containment
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.4""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs ≥ 0.4 ([EXT]): catches
    doc-inside-doc duplication that Jaccard scores near zero
    (`operators/dedup.py::containment_pairs`)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.4).select(
        "a", "b", "n_common", "containment"
    )

# Exact Jaccard-≥0.3 pair list as DuckDB CTE bodies — the edge set for the
# connected-components queries (threshold chosen so clusters of size > 2
# exist in the test corpus).
_CC_EDGES = f"""
  s AS (
    SELECT doc_id, {_SHINGLES} AS sh
    FROM (SELECT doc_id, {_W_TEXT} AS w FROM documents)),
  e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
  sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
  common AS (
    SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
    FROM e l JOIN e r USING (shingle)
    WHERE l.doc_id < r.doc_id
    GROUP BY 1, 2),
  pairs AS (
    SELECT a, b FROM common
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.3),
  sym AS (SELECT a AS src, b AS dst FROM pairs
          UNION SELECT b, a FROM pairs),
  reach(node, r) AS (
    SELECT src, src FROM sym
    UNION
    SELECT reach.node, s2.dst FROM reach JOIN sym s2 ON reach.r = s2.src),
  cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)"""

@register(
    "dedup_cc_clusters",
    f"""WITH RECURSIVE {_CC_EDGES}
        SELECT node, component FROM cc""",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact Jaccard-≥0.3 near-dup graph
    ([EXT]): every paired doc labeled with its cluster's minimum id via
    iterative min-label propagation (`operators/graph.py`); the oracle is
    DuckDB's recursive-CTE transitive closure."""
    from kusuma_metamorph_etl_spark.operators.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    edges = dedup.jaccard_pairs(docs, threshold=0.3).select("a", "b")
    return connected_components(edges).select("node", "component")

# `dedup_cc_representatives` (exact inverted-index Jaccard edges →
# cluster collapse) was RETIRED in r15 (VERDICT r14 Next #3): its exact
# closure is recomputed — and DuckDB-oracle-checked — inside
# `dedup_cc_minhash_err` below, so the standalone row was redundant
# evidence carrying the registry's only exponent-1.1 surface (the exact
# edge generator is candidate-pair-bound; an AllPairs prefix-filter
# rewrite was A/B'd in r14 and measured WORSE — exponent 1.44 — because
# the probe corpus has no Zipfian boilerplate for frequency-ordered
# prefixes to exclude).  The 100 TB path with identical collapse
# semantics is `dedup_cc_minhash` (banded MinHash edges, sf1.0 exponent
# 0.076).


@register("dedup_cc_minhash", None)  # xxhash64 banding — no DuckDB equivalent
def dedup_cc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of `dedup_cc_representatives` (r13 VERDICT "What's
    wrong" #1): the same transitive cluster-collapse, but edges come from
    banded MinHash LSH verified by exact Jaccard ≥ 0.3
    (`dedup.minhash_near_dups`, sf1.0 exponent ~0.13) instead of the
    exact inverted-index join.  Verified edges are a SUBSET of the exact
    Jaccard pairs, so every emitted cluster sits inside an exact cluster
    and survivors are provably a SUPERSET of the exact survivors; the
    `_err` gate pins that contract plus ≥80% drop recall.  2-row bands
    (16 hashes × 8 bands) keep per-pair collision odds high at the 0.3
    operating threshold."""
    from kusuma_metamorph_etl_spark.operators.graph import cluster_representatives

    docs = t(spark, sf_dir, "documents")
    edges = dedup.minhash_near_dups(docs, threshold=0.3, bands=8).select("a", "b")
    return cluster_representatives(docs, edges).select("doc_id", "source")

@register(
    "dedup_cc_minhash_err",
    f"""WITH RECURSIVE {_CC_EDGES}
        SELECT doc_id, source FROM documents
        WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)""",
)
def dedup_cc_minhash_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_cc_minhash`: emits the EXACT
    cluster representatives (same recursive-CTE closure oracle as
    `dedup_cc_representatives`) gated on two contracts — (a) the MinHash
    path never drops a doc the exact closure keeps (survivor superset:
    verified edges ⊆ exact pairs ⟹ each MinHash component refines an
    exact component ⟹ a doc that loses to its MinHash-component min also
    loses to the ≤-smaller exact-component min), and (b) ≥ 80% of the
    exactly-dropped docs are still dropped under MinHash blocking."""
    from kusuma_metamorph_etl_spark.operators.graph import cluster_representatives

    docs = t(spark, sf_dir, "documents")
    exact = cluster_representatives(
        docs, dedup.jaccard_pairs(docs, threshold=0.3).select("a", "b")
    ).select("doc_id", "source")
    mh = cluster_representatives(
        docs,
        dedup.minhash_near_dups(docs, threshold=0.3, bands=8).select("a", "b"),
    ).select("doc_id")
    superset_viol = exact.select("doc_id").join(mh, "doc_id", "left_anti")
    stats = (
        _n(docs, "n_all")
        .crossJoin(_n(exact, "n_exact"))
        .crossJoin(_n(mh, "n_mh"))
        .crossJoin(_n(superset_viol, "n_viol"))
    )
    # Given the superset holds, dropped(mh) ⊆ dropped(exact), so the
    # recall of drops is (n_all - n_mh) / (n_all - n_exact).
    ok = (F.col("n_viol") == 0) & (
        (F.col("n_all") == F.col("n_exact"))
        | (
            (F.col("n_all") - F.col("n_mh"))
            >= 0.8 * (F.col("n_all") - F.col("n_exact"))
        )
    )
    return _gate(exact, stats, ok)

@register("dedup_minhash_lsh", None)  # xxhash64-based — no DuckDB equivalent
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ 0.3 (the scale
    path; recall vs `dedup_ngram_jaccard` is asserted in tests/)."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs, threshold=0.3)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))

@register("dedup_simhash", None)  # xxhash64-based — no DuckDB equivalent
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted SimHash near-dup pairs (48-bit signatures,
    Hamming ≤ 3, pigeonhole chunk-blocked join — no cross join)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, bits=48, max_hamming=3)

@register(
    "dedup_embedding",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        dups AS (
          SELECT DISTINCT b.vec_id FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e))) >= 0.3)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM dups)""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal: drop rows with a lower-id
    neighbor at cosine ≥ 0.3 (exact all-pairs here; the LSH-blocked scale
    path's recall is asserted in tests/)."""
    emb = t(spark, sf_dir, "embeddings")
    return dedup.embedding_dedup(emb, threshold=0.3).select("vec_id", "label")

@register("dedup_embedding_lsh", None)  # xxhash64 hyperplanes — rows-only
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of `dedup_embedding`: hyperplane-LSH candidate
    blocking before exact cosine verification (equi-join on (table,
    bucket) instead of all pairs).  Superset-of-exact-survivors and recall
    contracts asserted in tests/; benched in bench.py.  Plane count is
    occupancy-derived (`dedup.lsh_planes_for` — identical to the old
    fixed 4 planes at sf≤0.1, more buckets beyond), so candidate volume
    stays linear in corpus size instead of quadratic (r13 scale probe:
    fixed planes measured exponent 1.43 on a 10x scale-up)."""
    emb = t(spark, sf_dir, "embeddings")
    return dedup.embedding_dedup(
        emb, threshold=0.3, prefilter="lsh", n_planes=None
    ).select("vec_id", "label")

@register(
    "dedup_minhash_lsh_err",
    f"""WITH s AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_W_TEXT} AS w FROM documents)),
        e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
        common AS (
          SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
          FROM e l JOIN e r USING (shingle)
          WHERE l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a, b
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5""",
)
def dedup_minhash_lsh_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_minhash_lsh`: emits the EXACT
    Jaccard-≥0.5 pairs (DuckDB-computable) gated on the banded MinHash
    path recovering ≥ 80% of them — the tests/test_dedup.py contract,
    now driver-checked per round."""
    docs = t(spark, sf_dir, "documents")
    exact = dedup.jaccard_pairs(docs, threshold=0.5).select("a", "b")
    approx = dedup.minhash_near_dups(docs, threshold=0.5).select("a", "b")
    hit = exact.join(approx, ["a", "b"], "left_semi")
    stats = _n(exact, "n_exact").crossJoin(_n(hit, "n_hit"))
    ok = (F.col("n_exact") > 0) & (F.col("n_hit") >= 0.8 * F.col("n_exact"))
    return _gate(exact, stats, ok)

@register(
    "dedup_simhash_err",
    """SELECT doc_id AS a, doc_id + 1000000 AS b
       FROM documents WHERE doc_id % 7 = 0""",
)
def dedup_simhash_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_simhash`: plant verbatim copies
    of every 7th document under shifted ids — identical text hashes to an
    identical SimHash signature (Hamming 0), so every planted pair MUST
    surface within any Hamming budget.  Output is the planted-pair list
    (oracle-computable), gated on zero misses."""
    docs = t(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 7 == 0)
    copies = planted.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = dedup.simhash_near_dups(
        docs.unionByName(copies), bits=48, max_hamming=3
    ).select("a", "b")
    expected = planted.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1_000_000).alias("b")
    )
    missed = expected.join(pairs, ["a", "b"], "left_anti")
    stats = _n(expected, "n_exp").crossJoin(_n(missed, "n_miss"))
    ok = (F.col("n_exp") > 0) & (F.col("n_miss") == 0)
    return _gate(expected, stats, ok)

@register(
    "dedup_embedding_lsh_err",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        dups AS (
          SELECT DISTINCT b.vec_id FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e))) >= 0.3)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM dups)""",
)
def dedup_embedding_lsh_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_embedding_lsh`: emits the EXACT
    survivor set (same oracle as `dedup_embedding`) gated on the two LSH
    contracts from tests/test_dedup.py — survivors are a superset of the
    exact survivors (blocking can only MISS pairs), and ≥ 50% of the
    exactly-dropped rows are still dropped under LSH blocking."""
    emb = t(spark, sf_dir, "embeddings")
    exact = dedup.embedding_dedup(emb, threshold=0.3).select("vec_id", "label")
    lsh = dedup.embedding_dedup(
        emb, threshold=0.3, prefilter="lsh", n_planes=None
    ).select("vec_id")
    superset_viol = exact.select("vec_id").join(lsh, "vec_id", "left_anti")
    stats = (
        _n(emb, "n_all")
        .crossJoin(_n(exact, "n_exact"))
        .crossJoin(_n(lsh, "n_lsh"))
        .crossJoin(_n(superset_viol, "n_viol"))
    )
    # Given the superset holds, |dropped_lsh ∩ dropped_exact| = n_all - n_lsh.
    ok = (F.col("n_viol") == 0) & (
        (F.col("n_all") == F.col("n_exact"))
        | (
            (F.col("n_all") - F.col("n_lsh"))
            >= 0.5 * (F.col("n_all") - F.col("n_exact"))
        )
    )
    return _gate(exact, stats, ok)

@register("dedup_substring", None)  # maximal-repeat spans — not SQL-expressible
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. ACL'22 style): maximal
    cross-document shared spans of ≥ 64 chars via winnowed rolling-hash
    anchors + candidate-only extension — the paragraph-grain duplication
    document-level near-dup misses (`operators/dedup.py::substring_pairs`).
    Companion `dedup_substring_err` oracle-binds the recall contract."""
    docs = t(spark, sf_dir, "documents")
    return dedup.substring_pairs(docs, min_len=64)

@register(
    "dedup_substring_err",
    """SELECT doc_id AS a, doc_id + 1000000 AS b
       FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 200""",
)
def dedup_substring_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_substring`: plant a 120-char
    mid-document paragraph of every 7th document inside uppercase filler
    (disjoint from the lowercase corpus vocabulary) under a shifted id.
    Emits the planted-pair list (oracle-computable) gated on (1) every
    planted pair recovered with a span ≥ the 120 planted chars — the
    winnowing guarantee exercised end-to-end — and (2) every emitted
    span passing literal substring-equality re-verification (zero false
    spans, checked over the whole output, not just the plants)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    eligible = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.length("text") >= 200)
    )
    planted = eligible.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("QWJX ZVKP " * 12),  # 120 chars of disjoint filler
            F.substring("text", 41, 120),
            F.lit(" PKVZ XJWQ" * 12),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    pairs = dedup.substring_pairs(corpus, min_len=64)
    expected = eligible.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1_000_000).alias("b")
    )
    recovered = pairs.filter(F.col("length") >= 120).select("a", "b")
    missed = expected.join(recovered, ["a", "b"], "left_anti")
    bad_spans = (
        pairs.join(
            corpus.select(F.col("doc_id").alias("a"), F.col("text").alias("ta")),
            on="a",
        )
        .join(
            corpus.select(F.col("doc_id").alias("b"), F.col("text").alias("tb")),
            on="b",
        )
        .filter(
            F.expr("substring(ta, a_start + 1, length)")
            != F.expr("substring(tb, b_start + 1, length)")
        )
    )
    stats = (
        _n(expected, "n_exp")
        .crossJoin(_n(missed, "n_miss"))
        .crossJoin(_n(bad_spans, "n_bad"))
    )
    ok = (
        (F.col("n_exp") > 0)
        & (F.col("n_miss") == 0)
        & (F.col("n_bad") == 0)
    )
    return _gate(expected, stats, ok)

@register("dedup_substring_incr", None)  # incremental spans — not SQL-expressible
def dedup_substring_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring dedup ([EXT];
    `operators/dedup.py::incremental_substring_pairs`): a synthesized
    new batch (every 11th document re-identified with a planted
    mid-document paragraph) checked against the untouched corpus —
    history is never re-paired against itself, cost ∝ |new|.  Gated by
    `dedup_substring_incr_err`."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        docs.filter((F.col("doc_id") % 11 == 0) & (F.length("text") >= 200))
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.lit("QWJX ZVKP " * 12),
                F.substring("text", 41, 120),
                F.lit(" PKVZ XJWQ" * 12),
            ).alias("text"),
        )
    )
    return dedup.incremental_substring_pairs(new, docs, min_len=64).select(
        "a", "b", "against", "a_start", "b_start", "length"
    )

@register(
    "dedup_substring_incr_err",
    """SELECT doc_id + 2000000 AS a, doc_id AS b
       FROM documents WHERE doc_id % 11 = 0 AND length(text) >= 200""",
)
def dedup_substring_incr_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable gate for `dedup_substring_incr`: emits the planted
    (new_id, source_id) pair list, gated on (1) every planted paragraph
    recovered against history with span ≥ the 120 planted chars, and
    (2) the incremental pair set equaling the batch
    `substring_pairs(new ∪ history)` result RESTRICTED to pairs touching
    a new id — the no-lost-spans contract of the incremental plan."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    eligible = docs.filter(
        (F.col("doc_id") % 11 == 0) & (F.length("text") >= 200)
    )
    new = eligible.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("QWJX ZVKP " * 12),
            F.substring("text", 41, 120),
            F.lit(" PKVZ XJWQ" * 12),
        ).alias("text"),
    )
    # SAME stop-fingerprint cap on both sides: the equality below is
    # only meaningful when incremental and batch drop the same hot
    # hashes (r8 self-review — differing defaults made the gate
    # corpus-size-dependent)
    # NOT shared: the pair set feeds the recovered
    # filter and the symmetric-difference side, but materializing it
    # measured slower in every interleaved A/B pairing (r18) — the two
    # consumers recompute in parallel on idle cores while a checkpoint
    # serializes them behind the batch pipeline.
    inc = dedup.incremental_substring_pairs(new, docs, min_len=64, max_df=50)
    expected = eligible.select(
        (F.col("doc_id") + 2_000_000).alias("a"),
        F.col("doc_id").alias("b"),
    )
    recovered = inc.filter(
        (F.col("against") == "history") & (F.col("length") >= 120)
    ).select("a", "b")
    missed = expected.join(recovered, ["a", "b"], "left_anti")
    batch = dedup.substring_pairs(new.unionByName(docs), min_len=64, max_df=50)
    batch_touching = batch.filter(
        (F.col("a") >= 2_000_000) | (F.col("b") >= 2_000_000)
    ).select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()
    inc_norm = inc.select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()
    sym_diff = (
        batch_touching.exceptAll(inc_norm)
        .unionByName(inc_norm.exceptAll(batch_touching))
    )
    stats = (
        _n(expected, "n_exp")
        .crossJoin(_n(missed, "n_miss"))
        .crossJoin(_n(sym_diff, "n_diff"))
    )
    ok = (
        (F.col("n_exp") > 0)
        & (F.col("n_miss") == 0)
        & (F.col("n_diff") == 0)
    )
    return _gate(expected, stats, ok)

@register("dedup_substring_removal", None)  # rewritten text — not SQL-expressible
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span REMOVAL accounting (Lee et al. remove the repeated
    spans, not just find them): cut every cross-document duplicated span
    out of the higher-id document, keep it in the lowest — emits
    deterministic per-document (n_spans_removed, chars_removed) rows
    (`operators/dedup.py::remove_substring_spans`).  The fixpoint contract
    (a second search over the cleaned corpus finds nothing) is gated by
    `dedup_substring_removal_err`."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.substring_pairs(docs, min_len=64)
    cleaned = dedup.remove_substring_spans(docs, pairs)
    return cleaned.select("doc_id", "n_spans_removed", "chars_removed")

@register(
    "dedup_substring_removal_err",
    """SELECT doc_id AS a, doc_id + 1000000 AS b
       FROM documents WHERE doc_id % 9 = 0 AND length(text) >= 200""",
)
def dedup_substring_removal_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_substring_removal`: plant a
    copied 150-char paragraph of every 9th document under a shifted id,
    remove spans, then GATE on the removal semantics — no planted copy
    may still contain its paragraph afterwards (the copy is the higher
    id of its pair, so removal must have cut the paragraph out of it).
    Emits the oracle-computable planted-pair list while that holds.
    A global one-pass fixpoint would be too strong: cut junctions can
    form fresh repeats (see ``remove_substring_spans`` docstring)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    eligible = docs.filter(
        (F.col("doc_id") % 9 == 0) & (F.length("text") >= 200)
    )
    planted = eligible.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("JQZX VWKP " * 10),
            F.substring("text", 31, 150),
            F.lit(" PXWV KZQJ" * 10),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    pairs = dedup.substring_pairs(corpus, min_len=64)
    cleaned = dedup.remove_substring_spans(corpus, pairs).select(
        "doc_id", "text"
    )
    still_there = (
        cleaned.filter(F.col("doc_id") >= 1_000_000)
        .select(
            (F.col("doc_id") - 1_000_000).alias("src_id"),
            F.col("text").alias("cleaned_text"),
        )
        .join(
            eligible.select(
                F.col("doc_id").alias("src_id"),
                F.substring("text", 31, 150).alias("para"),
            ),
            on="src_id",
        )
        .filter(F.instr(F.col("cleaned_text"), F.col("para")) > 0)
    )
    expected = eligible.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1_000_000).alias("b")
    )
    stats = _n(expected, "n_exp").crossJoin(_n(still_there, "n_kept"))
    ok = (F.col("n_exp") > 0) & (F.col("n_kept") == 0)
    return _gate(expected, stats, ok)

@register("dedup_minhash_incr", None)  # xxhash64 banding — rows-only
def dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup check of a 'tonight's batch' (doc_id%5==0)
    against the standing corpus (`operators/dedup.py::
    incremental_minhash_near_dups`): new×history + new×new band joins
    only — history is never re-paired against itself."""
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    out = dedup.incremental_minhash_near_dups(new, hist, threshold=0.5)
    return out.select(
        "new_id", "match_id", "against", F.round("jaccard", 6).alias("jaccard")
    )

@register(
    "dedup_minhash_incr_err",
    f"""WITH s AS (
          SELECT doc_id, {_SHINGLES} AS sh
          FROM (SELECT doc_id, {_W_TEXT} AS w FROM documents)),
        e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
        common AS (
          SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
          FROM e l JOIN e r USING (shingle)
          WHERE l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a, b
        FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
          AND NOT (a % 5 <> 0 AND b % 5 <> 0)""",
)
def dedup_minhash_incr_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_minhash_incr`: the exact
    Jaccard-≥0.5 pairs TOUCHING the new batch (both-history pairs are
    out of incremental scope by design), gated on the incremental path
    recovering ≥ 80% of them — mirrors the tests/test_dedup.py
    incremental==full equivalence contract."""
    docs = t(spark, sf_dir, "documents")
    exact = (
        dedup.jaccard_pairs(docs, threshold=0.5)
        .filter(~((F.col("a") % 5 != 0) & (F.col("b") % 5 != 0)))
        .select("a", "b")
    )
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    approx = (
        dedup.incremental_minhash_near_dups(new, hist, threshold=0.5)
        .select(
            F.least("new_id", "match_id").alias("a"),
            F.greatest("new_id", "match_id").alias("b"),
        )
    )
    hit = exact.join(approx, ["a", "b"], "left_semi")
    stats = _n(exact, "n_exact").crossJoin(_n(hit, "n_hit"))
    ok = (F.col("n_exact") > 0) & (F.col("n_hit") >= 0.8 * F.col("n_exact"))
    return _gate(exact, stats, ok)

_DEDUP_NORM_ORACLE = """WITH n AS (
         SELECT doc_id,
                trim(regexp_replace(
                    regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                    '\\s+', ' ', 'g')) AS canon
         FROM documents)
       SELECT doc_id FROM (
         SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(canon)) AS keep
         FROM n)
       WHERE doc_id = keep"""

@register("dedup_normalized", _DEDUP_NORM_ORACLE)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup ([EXT]; `operators/text.py::
    normalize_for_dedup` + `operators/dedup.py::exact_dedup`): casefold,
    punctuation-strip and whitespace-collapse before hashing, so
    trivially-reformatted copies collapse — the pre-hash normalization
    every web-corpus pipeline runs before exact dedup."""
    docs = t(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", text.normalize_for_dedup(F.col("text")).alias("text")
    )
    return dedup.exact_dedup(canon).select("doc_id")

# ASCII → full-width compatibility forms (+ ideographic space); NFKC folds
# every target character back to its source, so a `translate`d copy is a
# byte-distinct document that canonicalizes IDENTICALLY under the NFKC path
# and NOT under the plain path (full-width letters fail [^a-z0-9\s] and are
# stripped to punctuation-space).
_FW_SRC = "abcdefghijklmnopqrstuvwxyz0123456789 "

_FW_DST = (
    "ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ"
    "０１２３４５６７８９　"
)

@register("dedup_normalized_nfkc", None)  # NFKC fold — DuckDB has no NFKC builtin
def dedup_normalized_nfkc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup with Unicode NFKC compatibility folding
    ([EXT]; `operators/text.py::nfkc_fold` — the upgrade seam
    `dedup_normalized` documents): full-width forms, ligatures, and
    compatibility digits fold to their canonical ASCII before the
    casefold/strip/collapse chain, so ｆｕｌｌ-ｗｉｄｔｈ copies hash
    identically to their ASCII originals.  Rows-only by design (DuckDB
    has NFC but not NFKC); the recall contract is oracle-bound by
    `dedup_normalized_nfkc_err` on a planted full-width fixture."""
    docs = t(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id",
        text.normalize_for_dedup(F.col("text"), nfkc=True).alias("text"),
    )
    return dedup.exact_dedup(canon).select("doc_id")

@register("dedup_normalized_nfkc_err", _DEDUP_NORM_ORACLE)
def dedup_normalized_nfkc_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_normalized_nfkc`: plant a
    full-width `translate`d copy of every 11th document under a shifted
    id (byte-distinct, NFKC-identical), run the NFKC dedup over the
    planted corpus, and gate on (1) every plant collapsing onto its
    lower-id ASCII original and (2) the surviving set equalling plain
    `dedup_normalized` over the clean corpus exactly (NFKC is the
    identity on the ASCII corpus, so the survivors — and hence the
    shared oracle — must not move).  Emits the plain-dedup survivor
    list, which `_DEDUP_NORM_ORACLE` computes."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.translate(F.col("text"), _FW_SRC, _FW_DST).alias("text"),
    )
    corpus = docs.unionByName(planted)
    # Both dedup survivor frames feed three consumers each (the alive
    # filter, the two exceptAll directions, and the gate output); the
    # NFKC fold is a per-document Python pass, so without sharing the
    # plan re-ran it once per consumer (12 ArrowEvalPython nodes in the
    # r18 sweep).  The shared frames are 1-column survivor lists.
    survivors = share(
        dedup.exact_dedup(
            corpus.select(
                "doc_id",
                text.normalize_for_dedup(F.col("text"), nfkc=True).alias(
                    "text"
                ),
            )
        ).select("doc_id")
    )
    expected = share(
        dedup.exact_dedup(
            docs.select(
                "doc_id", text.normalize_for_dedup(F.col("text")).alias("text")
            )
        ).select("doc_id")
    )
    stats = (
        _n(planted, "n_planted")
        .crossJoin(_n(survivors.filter(F.col("doc_id") >= 2_000_000), "n_alive"))
        .crossJoin(_n(survivors.exceptAll(expected), "n_extra"))
        .crossJoin(_n(expected.exceptAll(survivors), "n_miss"))
    )
    ok = (
        (F.col("n_planted") > 0)
        & (F.col("n_alive") == 0)
        & (F.col("n_extra") == 0)
        & (F.col("n_miss") == 0)
    )
    return _gate(expected, stats, ok)

@register("dedup_semantic", None)  # k-means cell blocking — rows-only
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup ([EXT] dedup family;
    `operators/dedup.py::semantic_dedup`): survivors after dropping every
    vector whose cosine to a lower-id vector in the same k-means cell is
    ≥ 0.3.  Cell blocking is recall-approximate (boundary pairs can be
    missed) so the row is rows-only; the oracle-bound contract lives in
    `dedup_semantic_err`."""
    emb = t(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, threshold=0.3, n_clusters=None).select(
        "vec_id", "label"
    )

@register(
    "dedup_semantic_err",
    """SELECT vec_id AS a, vec_id + 1000000 AS b
       FROM embeddings WHERE vec_id % 13 = 0""",
)
def dedup_semantic_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_semantic`: plant an EXACT copy
    of every 13th vector under a shifted id — identical vectors always
    share an argmax cell (ties break on cell index, deterministically),
    so cell blocking must recover every planted pair in the regime the
    algorithm targets (high-threshold semantic duplicates; SemDeDup
    operates at ~0.9+, not at 0.3 where pairs span cells).  Emits the
    oracle-computable planted-pair list gated on (1) every planted copy
    DROPPED at threshold 0.9 (lowest-id-wins), and (2) the survivor set
    being a superset of the exact `embedding_dedup` survivors on the
    same planted corpus (blocking can only MISS pairs, never invent
    drops)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    # The survivor list feeds the alive filter AND the superset
    # anti-join; sharing it stops the second full semantic-dedup pass
    # (cell-assign Arrow chain + in-cell pairing) — guide §2.2.
    sem = share(
        dedup.semantic_dedup(corpus, threshold=0.9, n_clusters=None).select("vec_id")
    )
    exact = dedup.embedding_dedup(corpus, threshold=0.9).select("vec_id")
    expected = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("a"), (F.col("vec_id") + 1_000_000).alias("b")
    )
    surviving_copies = sem.filter(F.col("vec_id") >= 1_000_000)
    superset_viol = exact.join(sem, "vec_id", "left_anti")
    stats = (
        _n(expected, "n_exp")
        .crossJoin(_n(surviving_copies, "n_copy"))
        .crossJoin(_n(superset_viol, "n_viol"))
    )
    ok = (
        (F.col("n_exp") > 0)
        & (F.col("n_copy") == 0)
        & (F.col("n_viol") == 0)
    )
    return _gate(expected, stats, ok)

@register("dedup_semantic_incr", None)  # frozen-cell blocking — rows-only
def dedup_semantic_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup ([EXT] dedup family, VERDICT r8 #5;
    `operators/dedup.py::incremental_semantic_pairs`): tonight's batch
    (vec_id%5==0) against the standing corpus persisted as a frozen-
    centroid IVF index — new vectors assign to frozen cells, only the
    touched cells' partitions are read back, the corpus is never
    re-paired against itself.  Cell blocking is recall-approximate, so
    rows-only; the oracle-bound contract is `dedup_semantic_incr_err`."""
    import shutil
    import tempfile

    emb = t(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 5 == 0)
    hist = emb.filter(F.col("vec_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="sem_index_")
    try:
        similarity.write_ivf_index(hist, tmp, n_centroids=16)
        out = dedup.incremental_semantic_pairs(new, tmp, threshold=0.3)
        out = spark.createDataFrame(
            out.select(
                "new_id", "match_id", "against",
                F.round("cosine", 6).alias("cosine"),
            ).collect(),
            schema="new_id long, match_id long, against string, cosine double",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out

@register(
    "dedup_semantic_incr_err",
    """SELECT vec_id + 1000000 AS new_id, vec_id AS match_id
       FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 13 = 0""",
)
def dedup_semantic_incr_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `dedup_semantic_incr` (mirrors
    `dedup_minhash_incr_err`'s contract): plant an EXACT copy of every
    13th CORPUS vector into the new batch under a shifted id — identical
    vectors always land in the frozen argmax cell their original
    occupies, so the incremental path must recover EVERY planted
    (copy → history original) pair at threshold 0.9.  Emits the
    oracle-computable planted-pair list gated on full recovery with
    ``against='history'`` — a broken index write, a frozen-assignment
    drift, or lost partition pruning empties the output and flips the
    driver red."""
    import shutil
    import tempfile

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hist = emb.filter(F.col("vec_id") % 5 != 0)
    planted = hist.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    new = emb.filter(F.col("vec_id") % 5 == 0).unionByName(planted)
    tmp = tempfile.mkdtemp(prefix="sem_index_err_")
    try:
        similarity.write_ivf_index(hist, tmp, n_centroids=16)
        pairs = dedup.incremental_semantic_pairs(new, tmp, threshold=0.9)
        pairs = spark.createDataFrame(
            pairs.filter(F.col("against") == "history")
            .select("new_id", "match_id")
            .collect(),
            schema="new_id long, match_id long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    expected = hist.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("new_id"),
        F.col("vec_id").alias("match_id"),
    )
    hit = expected.join(pairs, ["new_id", "match_id"], "left_semi")
    stats = _n(expected, "n_exp").crossJoin(_n(hit, "n_hit"))
    ok = (F.col("n_exp") > 0) & (F.col("n_hit") == F.col("n_exp"))
    return _gate(expected, stats, ok)

@register(
    "dedup_cc_incremental",
    f"""WITH RECURSIVE {_CC_EDGES}
        SELECT node, component FROM cc""",
)
def dedup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance ([EXT];
    `operators/graph.py::incremental_components`): the near-dup edge set
    split into a "history" half and a "tonight" half by (a+b) parity;
    history is clustered once, then tonight's edges merge into the
    LABELS (old components re-enter as stars — the historical edge list
    is never touched again).  The oracle is the transitive closure over
    ALL edges: contracting connected subgraphs preserves connectivity,
    so the incremental result must be bit-identical to the full
    recompute — any drift in the star rewrite or the untouched-label
    passthrough flips the driver red."""
    from kusuma_metamorph_etl_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    docs = t(spark, sf_dir, "documents")
    edges = dedup.jaccard_pairs(docs, threshold=0.3).select("a", "b")
    old = edges.filter((F.col("a") + F.col("b")) % 2 == 0)
    new = edges.filter((F.col("a") + F.col("b")) % 2 == 1)
    labels = connected_components(old)
    return incremental_components(labels, new).select("node", "component")
