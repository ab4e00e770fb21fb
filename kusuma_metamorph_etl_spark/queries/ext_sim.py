"""[EXT] similarity-search queries (brute-force cosine, LSH, IVF,
PQ, MMR + the approx-path oracle gates) — split from ``ext.py``
(r13)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.operators import similarity
from kusuma_metamorph_etl_spark.registry import register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.queries.ext_common import _gate, _n

# ---------------------------------------------------------------- similarity

_COSINE = (
    "list_dot_product(a.e, b.e)"
    " / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
)

# Exact cosine top-5 (every 25th vector as query) — shared by
# `sim_cosine_topk` and the `_err` companions of its approximate paths,
# whose gated output IS this exact baseline.
_TOPK_ORACLE = f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {_COSINE} AS cosine
          FROM v a JOIN v b ON a.vec_id <> b.vec_id
          WHERE a.vec_id % 25 = 0),
        ranked AS (
          SELECT *, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rn
          FROM scored)
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
        FROM ranked WHERE rn <= 5"""

@register("sim_cosine_topk", _TOPK_ORACLE)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for every 25th vector as query."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = similarity.cosine_topk(queries, emb, k=5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))

@register("sim_topk_incremental", _TOPK_ORACLE)
def sim_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT top-k over a growing corpus (r13; the EDBT'20
    interactive-session maintenance pattern —
    `operators/similarity.py::incremental_topk_update`): the corpus is
    split into a base (75%) whose top-k is the "cached" result and an
    append batch (25%, query rows excluded by construction); the update
    scores ONLY queries × batch and merges with the cached k rows per
    query.  The oracle is the FULL recompute over base ∪ batch — the
    merge-correctness claim (top-k under a total order is mergeable) is
    therefore hash-checked, not asserted: a boundary-tie mishandled, a
    cached row rounded too early, or a batch row missed flips it."""
    emb = t(spark, sf_dir, "embeddings")
    is_batch = (F.col("vec_id") % 4 == 2) & (F.col("vec_id") % 25 != 0)
    base, batch = emb.filter(~is_batch), emb.filter(is_batch)
    queries = emb.filter(F.col("vec_id") % 25 == 0)  # all inside base
    cached = similarity.cosine_topk(queries, base, k=5)
    out = similarity.incremental_topk_update(cached, queries, batch, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )

@register(
    "sim_cosine_pairs",
    f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS a, b.vec_id AS b, round({_COSINE}, 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_COSINE} >= 0.3""",
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.3, exhaustive at test scale."""
    emb = t(spark, sf_dir, "embeddings")
    out = similarity.cosine_pairs(emb, threshold=0.3)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))

@register("sim_cosine_topk_np", None)  # BLAS summation order — rows-only
def sim_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force top-k (Arrow batches → one BLAS matmul per
    batch); ~2.7x the JVM fold at sf0.1 with identical pairs (asserted in
    tests/)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = similarity.cosine_topk_np(queries, emb, k=5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))

@register("sim_ivf_topk", None)  # index-dependent candidates — rows-only
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index (√n cells via `n_cells_for`,
    probe 6, one Lloyd refinement): each query scans ~probe·√n vectors —
    SUBLINEAR in corpus size, unlike the r13 fixed-16-cell tuning whose
    sf1.0 probe measured exponent 0.64 (recall asserted in tests/)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = similarity.ivf_topk(
        queries, emb, k=5, n_centroids=None, n_probe=6, refine_iters=1
    )
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))

@register(
    "sim_quantize",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        m AS (SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) AS ma
              FROM v),
        q AS (SELECT vec_id, ma,
                     CASE WHEN ma > 0
                          THEN list_transform(e,
                               x -> CAST(round(x * 127 / ma) AS BIGINT))
                          ELSE list_transform(e, x -> CAST(0 AS BIGINT))
                          END AS qv
              FROM m)
        SELECT vec_id,
               CAST(len(qv) AS BIGINT) AS n_dims,
               ma / 127.0 AS scale,
               CAST(list_min(qv) AS BIGINT) AS q_min,
               CAST(list_max(qv) AS BIGINT) AS q_max,
               CAST(list_sum(qv) AS BIGINT) AS q_sum
        FROM q""",
)
def sim_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization ([EXT]): the 4x storage
    reduction for embedding corpora (`operators/similarity.py::
    quantize_embeddings`).  Scalar summaries (dims, scale, min/max/sum of
    the quantized components) because rows-only harnesses cannot hash
    array values; round-trip error bounds are pinned in tests."""
    emb = t(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.size("qvec").cast("long").alias("n_dims"),
        "scale",
        F.array_min("qvec").cast("long").alias("q_min"),
        F.array_max("qvec").cast("long").alias("q_max"),
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
    )

@register("sim_lsh_topk", None)  # xxhash64-derived hyperplanes — rows-only
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane bucketing;
    plane count derived from corpus size (`dedup.lsh_planes_for`,
    constant bucket occupancy — the r13 embedding-LSH fix applied to the
    top-k path; identical to the historical 4 planes at gate scales).
    Recall asserted against `sim_cosine_topk` in tests/."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = similarity.lsh_topk(queries, emb, k=5, n_planes=None, n_tables=8)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))

def _topk_err(
    spark: SparkSession, sf_dir: str, approx_pairs: DataFrame, bound: float
) -> DataFrame:
    """Shared body of the top-k `_err` companions: exact cosine top-5
    (the `sim_cosine_topk` baseline and oracle), gated on the approximate
    path's pair-recall against it."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = similarity.cosine_topk(queries, emb, k=5)
    hit = exact.select("query_id", "neighbor_id").join(
        approx_pairs.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    stats = _n(exact, "n_exact").crossJoin(_n(hit, "n_hit"))
    ok = (F.col("n_exact") > 0) & (F.col("n_hit") >= bound * F.col("n_exact"))
    out = exact.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )
    return _gate(out, stats, ok)

@register("sim_lsh_topk_err", _TOPK_ORACLE)
def sim_lsh_topk_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `sim_lsh_topk`: exact top-5 baseline
    gated on hyperplane-LSH recall ≥ 0.5 (tests/test_similarity.py
    contract; measured 0.74 at sf0.001 — derived planes == 4 at every
    gate scale, so the bound carries over unchanged)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    approx = similarity.lsh_topk(queries, emb, k=5, n_planes=None, n_tables=8)
    return _topk_err(spark, sf_dir, approx, bound=0.5)

@register("sim_ivf_topk_err", _TOPK_ORACLE)
def sim_ivf_topk_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `sim_ivf_topk`: exact top-5 baseline
    gated on IVF (√n cells, probe 6, one Lloyd pass) recall ≥ 0.35
    (tests/test_similarity.py contract; measured 0.72 at sf0.01 and
    0.45 at sf0.1 under the derived sizing)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    approx = similarity.ivf_topk(
        queries, emb, k=5, n_centroids=None, n_probe=6, refine_iters=1
    )
    return _topk_err(spark, sf_dir, approx, bound=0.35)

@register("sim_cosine_topk_np_err", _TOPK_ORACLE)
def sim_cosine_topk_np_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `sim_cosine_topk_np`: the vectorized
    path must return the IDENTICAL neighbor set as the JVM fold (only
    float tails may differ — tests/test_similarity.py), so the gate is
    set equality in both directions, not a recall bound."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = similarity.cosine_topk(queries, emb, k=5)
    np_ = similarity.cosine_topk_np(queries, emb, k=5)
    e_pairs = exact.select("query_id", "neighbor_id")
    n_pairs = np_.select("query_id", "neighbor_id")
    missed = e_pairs.join(n_pairs, ["query_id", "neighbor_id"], "left_anti")
    spurious = n_pairs.join(e_pairs, ["query_id", "neighbor_id"], "left_anti")
    stats = (
        _n(e_pairs, "n_exact")
        .crossJoin(_n(missed, "n_miss"))
        .crossJoin(_n(spurious, "n_spur"))
    )
    ok = (
        (F.col("n_exact") > 0)
        & (F.col("n_miss") == 0)
        & (F.col("n_spur") == 0)
    )
    out = exact.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )
    return _gate(out, stats, ok)

@register("sim_ivf_persisted_err", _TOPK_ORACLE)
def sim_ivf_persisted_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the PERSISTED IVF index lifecycle (build → write
    cell-partitioned → partition-pruned search;
    `operators/similarity.py::write_ivf_index/ivf_search`): exact top-5
    baseline gated on the persisted-index search hitting the same ≥ 0.35
    recall bound as the inline IVF row — so a broken index write, a
    centroid/assignment drift between write and search, or lost
    partition pruning all empty the output and flip the driver red.
    The index round-trips through a run-scoped temp dir (the index is a
    DERIVED artifact; rebuilt per run here, persisted across runs in
    production)."""
    import shutil
    import tempfile

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    tmp = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        similarity.write_ivf_index(emb, tmp, n_centroids=None, refine_iters=1)
        approx = similarity.ivf_search(spark, tmp, queries, k=5, n_probe=6)
        # materialize before the temp dir disappears: the gate compare
        # re-executes the plan, which must not dangle on deleted files
        approx = spark.createDataFrame(
            approx.select("query_id", "neighbor_id").collect(),
            schema="query_id long, neighbor_id long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _topk_err(spark, sf_dir, approx, bound=0.35)

@register("sim_mmr", None)  # greedy diversity selection — rows-only
def sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity selection ([EXT] similarity;
    `operators/similarity.py::mmr_select`): 20 diverse-yet-relevant
    picks at λ=0.5 against a fixed axis query — the curation step after
    retrieval.  The greedy chain's scores depend on the selection
    prefix (non-SQL-expressible), so rows-only; the λ=1 degeneration is
    hash-checked in `sim_mmr_err`."""
    emb = t(spark, sf_dir, "embeddings")
    query = [1.0] + [0.0] * 63
    return similarity.mmr_select(emb, query, k=20, lam=0.5, pool=200)

@register(
    "sim_mmr_err",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       rels AS (
         -- cosine to the unit axis-0 query: e[1] / (|e| * 1)
         SELECT vec_id,
                e[1] / sqrt(list_dot_product(e, e)) AS rel
         FROM v)
       SELECT CAST(row_number() OVER (ORDER BY rel DESC, vec_id) - 1
                   AS INTEGER) AS rank,
              vec_id,
              round(rel, 6) AS relevance,
              round(rel, 6) AS mmr_score
       FROM rels
       ORDER BY rel DESC, vec_id LIMIT 20""",
)
def sim_mmr_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable MMR contract: at λ=1 the greedy chain degrades to
    pure relevance top-k, which plain SQL expresses exactly — the
    relevance math (cosine to the unit axis-0 query = first component /
    vector norm), the (rel desc, id) tie order, the rank numbering and
    the rounding are all hash-compared.  A drift in the pool trim, the
    driver loop, or the tie-break flips this row red; diversity behavior
    at λ<1 is pinned by the unit tests."""
    emb = t(spark, sf_dir, "embeddings")
    query = [1.0] + [0.0] * 63
    return similarity.mmr_select(emb, query, k=20, lam=1.0, pool=200)

@register(
    "sim_group_centroid",
    """WITH e AS (SELECT label,
                         unnest(embedding) AS x,
                         unnest(range(0, len(embedding))) AS pos
                  FROM embeddings)
       SELECT label,
              CAST(pos AS INTEGER) AS pos,
              round(avg(x), 6) AS m,
              CAST(count(*) AS BIGINT) AS n_vectors
       FROM e GROUP BY 1, 2""",
)
def sim_group_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid ([EXT] similarity;
    `operators/similarity.py::group_centroids`): element-wise mean
    vector per label via posexplode → (label, position) partial-agg
    average — no task ever holds a label's full vector set, the
    class-prototype primitive at corpus scale.  Registered at the
    long-form ``(label, pos, m, n_vectors)`` grain (``assemble=False``)
    because the driver's pandas canonicalizer cannot hash array cells
    (r9 driver-ERR); the assembled ``array<double>`` shape stays covered
    by tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.group_centroids(emb, "label", assemble=False)

@register("sim_pq", None)  # ADC ranking is code-approximate — rows-only
def sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN ([EXT] similarity;
    `operators/similarity.py::pq_train/pq_encode/pq_topk` — Jégou et
    al. TPAMI'11): m=16 subspace codebooks of 64 codewords over the
    L2-normalized corpus, vectors compressed 512 B → 16 codes, top-5 by
    ADC table lookups without touching raw floats — the memory-bound
    scale path where even int8 vectors don't fit (`sim_quantize` is the
    8x step, PQ the 32-64x step).  Approximate by construction →
    rows-only; the exact-recall contract is hash-checked in
    `sim_pq_err` and the recall/rerank bounds in pytest."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    books = similarity.pq_train(emb, m=16, k=64, refine_iters=2)
    codes = similarity.pq_encode(emb, books)
    return similarity.pq_topk(queries, codes, books, k=5)

@register("sim_pq_err", _TOPK_ORACLE)
def sim_pq_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `sim_pq`: exact top-5 baseline gated
    on the PRODUCTION path's recall — ADC shortlist-50 + exact cosine
    re-rank of only those candidates (`pq_topk_rerank`), bound 0.7
    (measured 1.0 at sf0.01: the shortlist captured every exact top-5
    neighbor; pure ADC sits at 0.59 and is bounded in pytest)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    books = similarity.pq_train(emb, m=16, k=64, refine_iters=2)
    codes = similarity.pq_encode(emb, books)
    approx = similarity.pq_topk_rerank(
        queries, codes, emb, books, k=5, shortlist=50
    )
    return _topk_err(spark, sf_dir, approx, bound=0.7)


def _rp_sql() -> str:
    """Oracle for `sim_random_projection`: the SAME driver-side seeded
    matrix rows embedded as DuckDB list literals, so both engines fold
    identical coefficients in identical order."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        projection_matrix,
    )

    m = projection_matrix(16, 64, seed=42)
    lits = ["[" + ", ".join(repr(c) for c in row) + "]" for row in m[:4]]
    full = ["[" + ", ".join(repr(c) for c in row) + "]" for row in m]
    norm_terms = " + ".join(
        f"pow(list_dot_product(e, {row}), 2)" for row in full
    )
    return f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT vec_id,
               round(list_dot_product(e, {lits[0]}), 6) AS p0,
               round(list_dot_product(e, {lits[1]}), 6) AS p1,
               round(list_dot_product(e, {lits[2]}), 6) AS p2,
               round(list_dot_product(e, {lits[3]}), 6) AS p3,
               round(sqrt({norm_terms}), 6) AS pnorm
        FROM v"""


@register("sim_random_projection", _rp_sql())
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded random-projection dimensionality reduction ([EXT], r15 —
    Johnson–Lindenstrauss): 64-d embeddings projected to 16-d with a
    deterministic driver-side matrix (`similarity.random_project`), the
    standard cheapening step before LSH/brute-force when embeddings are
    wide.  Emits the first four components plus the projected norm,
    rounded 6 dp; the oracle embeds the SAME matrix rows as list
    literals, so a seeding, scaling (1/sqrt(k)), or fold-order bug
    diverges the hash.  Distance-preservation (the JL point) is pinned
    separately in tests: pairwise-cosine distortion tightening as
    1/sqrt(k), and ≥0.95 planted-cluster recall after projection — the
    near-dup use.  (Raw top-k recall on THIS corpus is not a meaningful
    gate: its vectors are near-orthogonal with neighbor margins below
    the k=16 JL error, so structure, not the operator, decides it.)"""
    emb = t(spark, sf_dir, "embeddings")
    rp = similarity.random_project(emb, "embedding", out_dim=16, seed=42)
    p = F.col("rp")
    return rp.select(
        "vec_id",
        F.round(p[0], 6).alias("p0"),
        F.round(p[1], 6).alias("p1"),
        F.round(p[2], 6).alias("p2"),
        F.round(p[3], 6).alias("p3"),
        F.round(
            F.sqrt(F.aggregate(p, F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("pnorm"),
    )


@register(
    "sim_maxsim_topk",
    f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        d AS (SELECT vec_id % 10 AS dkey, e FROM v),
        q AS (SELECT (vec_id // 50) % 2 AS qkey, vec_id AS qtok, e FROM v
              WHERE vec_id % 50 = 0),
        pt AS (SELECT qkey, qtok, dkey, max({_COSINE}) AS maxc
               FROM q a, d b
               GROUP BY 1, 2, 3),
        sc AS (SELECT qkey, dkey,
                      round(CAST(sum(CAST(round(maxc, 9) AS DECIMAL(38,9)))
                                 AS DOUBLE), 6) AS maxsim,
                      count(*) AS n_query_tokens
               FROM pt GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (
                          PARTITION BY qkey
                          ORDER BY maxsim DESC, dkey) AS rank
              FROM sc)
        SELECT qkey, dkey, maxsim, n_query_tokens, rank
        FROM r WHERE rank <= 3""",
)
def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval ([EXT], r15 — ColBERT-style MaxSim,
    Khattab & Zaharia 2020): multi-vector scoring where every query
    TOKEN independently finds its best doc-token cosine and the per-
    token maxima sum to the pair score — the fine-grained matching
    single-vector cosine flattens away.  Pseudo multi-vector sets are
    derived from the embeddings table (doc token sets by `vec_id % 10`,
    two query token sets from every 50th vector); the query side
    BROADCASTS against one scan of the doc tokens, maxima and the
    exact-decimal sum reduce map-side (`similarity.maxsim_topk` — same
    9-dp-decimal sum discipline as the bigram LM, so engines and
    partitionings agree bit-for-bit).

    DECLARED exact token-level baseline (sf1.0 exponent 0.84, the
    `sim_cosine_topk` shape: query tokens AND doc tokens both scale
    with the corpus here, so work is |q|·|d|) — production ColBERT
    scores a CANDIDATE set this way after an ANN prefilter, and that
    composition is REGISTERED as `sim_maxsim_ann` (r16: pooled-centroid
    IVF shortlist → exact MaxSim re-rank over candidate tokens only,
    recall-gated by `sim_maxsim_ann_err`) — per-query re-rank cost
    |q| × N·tokens, independent of corpus size.  Funded by
    consolidating the separate sketch intersection and difference rows
    into `agg_kmv_family` under the retire-one policy."""
    emb = t(spark, sf_dir, "embeddings")
    docs = emb.select(
        (F.col("vec_id") % 10).alias("dkey"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.expr("vec_id div 50") % 2).alias("qkey"), "vec_id", "embedding"
    )
    return similarity.maxsim_topk(docs, queries, k=3)


def _maxsim_ann_sets(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Token-set derivation shared by the `sim_maxsim_ann*` rows: DOCS
    scale with the corpus (consecutive 8-token sets, `vec_id div 8` —
    the realistic multi-vector shape where doc COUNT grows and tokens
    per doc stay bounded, unlike `sim_maxsim_topk`'s fixed-10-doc
    derivation whose per-doc token sets grow instead), QUERIES are every
    20th doc's token set."""
    emb = t(spark, sf_dir, "embeddings")
    docs = emb.select(
        F.expr("vec_id div 8").alias("dkey"), "vec_id", "embedding"
    )
    queries = docs.filter(F.col("dkey") % 20 == 0).select(
        F.col("dkey").alias("qkey"), "vec_id", "embedding"
    )
    return docs, queries


# r17: n_candidates/n_probe are DERIVED from the pooled corpus size
# (similarity.maxsim_candidates_for / maxsim_probe_for — the r14
# derived-parameter rule the r16 fixed (35, 10) violated; at the
# sf0.01 fixture the derivation reproduces exactly (35, 10), so gate
# recall there is unchanged by construction).
_MAXSIM_ANN_PARAMS = dict(k=3, refine_iters=1)

# Exact MaxSim top-3 over the `_maxsim_ann_sets` derivation — the
# oracle of `sim_maxsim_ann_err` and the recall baseline both rows are
# judged against (same decimal-sum/tie discipline as `sim_maxsim_topk`).
_MAXSIM_ANN_EXACT = f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        d AS (SELECT vec_id // 8 AS dkey, e FROM v),
        q AS (SELECT vec_id // 8 AS qkey, vec_id AS qtok, e FROM v
              WHERE (vec_id // 8) % 20 = 0),
        pt AS (SELECT qkey, qtok, dkey, max({_COSINE}) AS maxc
               FROM q a, d b
               GROUP BY 1, 2, 3),
        sc AS (SELECT qkey, dkey,
                      round(CAST(sum(CAST(round(maxc, 9) AS DECIMAL(38,9)))
                                 AS DOUBLE), 6) AS maxsim,
                      count(*) AS n_query_tokens
               FROM pt GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (
                          PARTITION BY qkey
                          ORDER BY maxsim DESC, dkey) AS rank
              FROM sc)
        SELECT qkey, dkey, maxsim, n_query_tokens, rank
        FROM r WHERE rank <= 3"""


@register("sim_maxsim_ann", None)  # IVF-shortlist-dependent — rows-only
def sim_maxsim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-prefiltered MaxSim ([EXT], r16 — the registered scale path
    the `sim_maxsim_topk` docstring promised beside its exact
    exponent-0.84 baseline): pool each token set to its centroid
    (`group_centroids`), IVF-shortlist candidate docs per query over
    the pooled doc vectors, then EXACT MaxSim re-rank over the
    candidate docs' tokens only (`similarity.maxsim_ann_topk`) —
    per-query re-rank cost |q|·n_candidates·tokens_per_doc, prefilter
    cost ~probe·√n_docs instead of n_docs.  r17: every shortlist
    parameter is DERIVED from corpus size (cells √n via `n_cells_for`,
    probed-cell fraction held constant via `maxsim_probe_for`,
    shortlist √n_docs via `maxsim_candidates_for`) — the r16 fixed
    (probe=10, 35 candidates) violated the repo's r14 derived-parameter
    rule and its recall decayed toward the gate as the corpus grew —
    0.917/0.917/0.795 at the driver scales and 0.453 (gate-RED) at
    sf1.0; derived holds 0.917/0.917/0.846/0.731 (BENCH_SCALE.json r17
    `sim_maxsim_ann_recall` has the fixed-vs-derived recall/latency A/B
    and miss attribution).  Measured sf1.0 exponent 0.364 at the
    derived setting (r17; was 0.258 fixed — the √n shortlist growth
    prices recall-at-scale into the exponent) vs the exact baseline's
    0.89 on the same derivation.  Rows-only (the shortlist depends on the IVF
    index); the quality claim is oracle-bound by
    `sim_maxsim_ann_err`'s ≥0.7 doc-recall gate.  Funded by
    consolidating `join_asof_forward` + `join_asof_nearest` →
    `join_asof_directions` under the retire-one policy."""
    docs, queries = _maxsim_ann_sets(spark, sf_dir)
    return similarity.maxsim_ann_topk(docs, queries, **_MAXSIM_ANN_PARAMS)


@register("sim_maxsim_ann_err", _MAXSIM_ANN_EXACT)
def sim_maxsim_ann_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `sim_maxsim_ann`: exact MaxSim top-3
    over the same doc/query token derivation (full-oracle SQL), gated on
    the ANN path's doc-grain recall ≥ 0.7 against it — a broken
    shortlist join, a drifted IVF assignment, or a re-rank that no
    longer equals the exact scorer on common pairs empties the output
    and flips the driver red.  Measured recall at the r17 DERIVED
    shortlist (reproduces (probe=10, 35) at sf0.001/0.01, grows with
    the corpus): 0.917 / 0.917 / 0.846 / 0.731 at
    sf0.001/0.01/0.1/1.0 — the gate now holds at the scale the
    exponent was measured, where the r16 FIXED (10, 35) read 0.453
    (gate-RED; its 0.917/0.917/0.795 trend was real decay, not noise —
    BENCH_SCALE.json r17 `sim_maxsim_ann_recall` has the full
    fixed-vs-derived A/B and the sf1.0 miss attribution; candidate
    scores are value-identical to the exact row's on every common
    pair, so the gate truly measures shortlist containment, not float
    luck).  DECLARED gate-cost note:
    this row RUNS the exact baseline it emits (sf1.0 exponent 0.844,
    like every `_err` companion of a linear exact row) — the production
    path whose scaling matters is `sim_maxsim_ann` (0.258).  Funded by
    consolidating
    `evt_rate_anomaly` + `evt_rate_anomaly_seasonal` →
    `evt_rate_anomaly_family` under the retire-one policy."""
    docs, queries = _maxsim_ann_sets(spark, sf_dir)
    exact = similarity.maxsim_topk(docs, queries, k=3)
    ann = similarity.maxsim_ann_topk(docs, queries, **_MAXSIM_ANN_PARAMS)
    hit = exact.select("qkey", "dkey").join(
        ann.select("qkey", "dkey"), ["qkey", "dkey"], "left_semi"
    )
    stats = _n(exact, "n_exact").crossJoin(_n(hit, "n_hit"))
    ok = (F.col("n_exact") > 0) & (
        F.col("n_hit") >= 0.7 * F.col("n_exact")
    )
    return _gate(exact, stats, ok)
