"""[EXT] Similarity search over embedding columns (SURVEY.md §2.10
north-star): brute-force cosine top-k as the exact baseline, and an
LSH-bucketed approximate variant as the scale path.

Embeddings are ``array<float>`` columns.  All math is built-in column
expressions (``zip_with`` + ``aggregate``) — JVM-side, no Python per row.
Floats are cast to double BEFORE arithmetic so results are bit-stable and
reproducible in the SQL oracle (same element order, same IEEE ops).

The ANN and near-dup paths share three seams:

* ``dedup.pairs`` builds every candidate join (``cosine_pairs`` is its
  ``on=[]`` cross join);
* ``dedup.cosine_verify`` is the one numpy cosine over candidate pairs;
* :func:`lloyd` is the one k-means loop: :func:`ivf_build` (one
  subspace, cosine argmax) and :func:`pq_train` (m subspaces, L2
  argmin) each pass only their assignment rule, seeded from one
  hash-order sample (:func:`_hash_sample`).

The query-side top-k tail of :func:`ivf_topk`, :func:`lsh_topk` and
:func:`ivf_search` is :func:`_best_pairs`.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.windows import top_k_per_group
from kusuma_metamorph_etl_spark.plans.share import share


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i via zip_with + aggregate (left-to-right fold, matching the
    SQL oracle's summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL for zero-norm inputs: a zero vector has no direction, and the
    raw 0/0 NaN would rank ABOVE every real score under ``F.desc`` (Spark
    sorts NaN largest), making one all-zero embedding every query's top-1
    neighbor.  NULL instead sinks (DESC is NULLS LAST) and fails any
    ``>= threshold`` filter.

    ``try_divide``, not ``when(denom > 0, ...)``: the when-form evaluates
    the two norm folds TWICE (condition + branch) — measured 3.1→5.9s on
    the sf0.1 brute-force top-k; try_divide nulls the zero-denominator
    case with a single evaluation of each side."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set against the
    corpus, one narrow pass computing cosines, then top-k per query.

    Scale shape: corpus stays partitioned (never shuffled); queries
    broadcast (must be the small side); the top-k window partitions by
    query id over corpus-size × |Q| rows — for large |Q|, pre-aggregate
    per-partition heaps via AQE or switch to :func:`lsh_topk`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
    )


def incremental_topk_update(
    cached: DataFrame,
    queries: DataFrame,
    new_batch: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT incremental top-k maintenance over a growing corpus (the
    EDBT'20 interactive-session pattern): given the cached top-k of each
    query against corpus C, fold in a new batch B by scoring ONLY the
    |Q| × |B| fresh pairs and re-taking k over (cached ∪ fresh).

    Why this is exact, not approximate: cosine is a per-pair score (no
    corpus-dependent normalization), and top-k is taken under a TOTAL
    order (cosine DESC, neighbor_id ASC — the same comparator
    :func:`cosine_topk` uses), so any row of the true top-k over C ∪ B
    is either in B (scored fresh) or was in the top-k over C (cached) —
    a row outside the cached k was beaten by k rows that are all still
    present in the merge.  That makes this the 100 TB shape for
    append-only corpora: per ingest batch the work is |Q| × |B| narrow
    scoring plus a k-row-per-query merge, never a rescan of C.

    ``cached`` must carry (query_id, neighbor_id, cosine) at FULL
    precision (round only at presentation) — rounding before the merge
    would re-order boundary ties against a full recompute.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    b = new_batch.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    fresh = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    merged = cached.select("query_id", "neighbor_id", "cosine").unionByName(
        fresh
    )
    return top_k_per_group(
        merged,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
    )


def cosine_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k, vectorized: queries collect to a NumPy
    matrix (they must be the small side anyway — same constraint as the
    broadcast in :func:`cosine_topk`), corpus partitions stream through
    ``mapInPandas`` and each Arrow batch does ONE BLAS matmul against the
    query matrix, emitting per-batch top-k candidates; a final window
    reduces batch-local top-k to global top-k.

    This is the documented exception to "stay JVM-side": Spark's
    higher-order-function fold is interpreted per element, so dense
    linear algebra belongs in a vectorized Pandas UDF.  Same results as
    :func:`cosine_topk` up to float-summation order.
    """
    import numpy as np
    import pandas as pd

    # Preserve the caller's id type (string record ids, ints, ...) — the
    # same seam hyperplane_signatures_np / transcode_images derive.
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    # bound: |Q| rows (the query set is the small side)
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        # np.array([]) is 1-D; norm(axis=1) would raise AxisError
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0  # zero-norm queries score 0 against everything
    q_norm = q_mat / qn

    def score(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            ids = batch[id_col].to_numpy()
            c_mat = np.array(list(batch[vec_col]), dtype=np.float64)
            cn = np.linalg.norm(c_mat, axis=1, keepdims=True)
            # zero-norm corpus rows are OMITTED from candidates (no
            # direction — the JVM twin emits NULL cosine, which sinks);
            # without the guard their 0/0 NaN would rank above every
            # real score under argpartition
            keep = cn[:, 0] > 0
            if not keep.any():
                continue
            ids, c_mat, cn = ids[keep], c_mat[keep], cn[keep]
            c_norm = c_mat / cn
            sims = c_norm @ q_norm.T  # |batch| × |Q|
            # Batch-local top-(k+1) per query (+1 absorbs the self-match).
            take = min(k + 1, sims.shape[0])
            top = np.argpartition(-sims, take - 1, axis=0)[:take]
            out = {
                "query_id": np.repeat(q_ids, take),
                "neighbor_id": ids[top].T.ravel(),
                "cosine": np.take_along_axis(sims, top, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    candidates = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=out_schema
    )
    return top_k_per_group(
        candidates.filter(F.col("query_id") != F.col("neighbor_id")),
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    detection.  Exhaustive at test scale; the scale path buckets with
    :func:`hyperplane_signature` first."""
    from kusuma_metamorph_etl_spark.operators.dedup import pairs

    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("vec"))
    return (
        pairs(v, [], id_col)
        .select("a", "b", cosine(F.col("vec_a"), F.col("vec_b")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def n_cells_for(n_rows: int, floor: int = 16, cap: int = 65536) -> int:
    """IVF cell count derived from corpus size: ``clamp(⌊√n⌋)``.

    Why this exists: with a FIXED cell count the
    per-query candidate scan is ``n_probe/n_cells`` of the CORPUS, so
    query cost grows linearly with corpus size — `sim_ivf_topk` measured
    exponent 0.64 at the sf1.0 probe because 16 cells was tuned for
    sf0.01.  The √n rule (the standard IVF sizing — cells and cell
    occupancy both grow as √n) makes per-query cost ``n_probe · √n``:
    sublinear, and the index build (one assignment pass) stays linear.
    Same derived-parameter shape as :func:`dedup.lsh_planes_for`."""
    import math

    if n_rows <= 0:
        return floor
    return max(floor, min(cap, math.isqrt(n_rows)))


def maxsim_probe_for(n_cells: int, frac: float = 0.625, floor: int = 10) -> int:
    """MaxSim-ANN probe count derived from the cell count: probe a
    constant FRACTION of cells (default 5/8, the ratio the registered
    row was calibrated at on the 16-cell floor — 10/16).

    Why this exists: with a FIXED ``n_probe`` the
    probed fraction shrinks as cells grow √n, and the measured doc-grain
    recall of `sim_maxsim_ann` fell 0.917 → 0.917 → 0.795 across the
    three driver scales — monotonically toward its 0.7 gate.  Holding
    the fraction constant keeps the cell-containment half of recall
    scale-independent while the probed CANDIDATE mass stays
    ``frac · n_docs`` of a pooled (1-row-per-doc) scan — the cheap
    stage; the expensive exact re-rank is bounded separately by
    :func:`maxsim_candidates_for`.  Same derived-parameter discipline as
    :func:`n_cells_for` / ``dedup.lsh_planes_for`` (no registered ANN
    path carries a capacity constant tuned to fixture scale)."""
    import math

    if n_cells <= 0:
        return floor
    return min(n_cells, max(floor, math.ceil(frac * n_cells)))


def maxsim_candidates_for(
    n_docs: int, coeff_tenths: int = 44, floor: int = 35, cap: int = 4096
) -> int:
    """MaxSim-ANN shortlist size derived from corpus size:
    ``clamp(⌈4.4·√n_docs⌉)`` (``coeff_tenths``/10 — an integer number
    of tenths so ``44·√2500/10`` is IEEE-exact 220, not 220.000…3),
    calibrated so the sf0.01 fixture keeps its registration-time 35
    (35/√62 ≈ 4.4) and the shortlist grows as √n — the true doc's
    pooled-cosine rank among i.i.d. distractors grows with the corpus,
    so a FIXED shortlist is a shrinking fraction (35 was 56% of the
    sf0.01 corpus but 1.4% of sf1.0) and recall decays (fixed-vs-derived
    recall/latency A/B at sf0.1 and sf1.0: BENCH_SCALE.json).  √n
    keeps the exact re-rank cost per query
    (``|q|·n_candidates·tokens_per_doc``) sublinear in the corpus; the
    cap bounds the broadcast candidate list (|q|×N rows) at cluster
    scale."""
    import math

    if n_docs <= 0:
        return floor
    return max(
        floor, min(cap, math.ceil(coeff_tenths * math.sqrt(n_docs) / 10))
    )


def ivf_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> list[list[float]]:
    """Pick the IVF centroid set: the ``n_centroids`` corpus vectors of
    the hash-order sample (:func:`_hash_sample`), optionally refined with
    ``refine_iters`` Lloyd iterations (:func:`lloyd`, one subspace):
    cosine assignment, per-cell means of the raw vectors.  Bounded
    driver collects only — the index IS tiny by construction.
    Assignment ties break to the LOWEST cell index (numpy argmax rule ==
    the `_assign_cells` comparator).  NULL vectors take no part.
    """
    import numpy as np

    seeds = _hash_sample(corpus, n_centroids, id_col, vec_col)
    if not len(seeds):
        return []

    def assign(v, books):
        # cosine argmax, sums of the RAW vectors
        (cmat,) = books
        cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
        cnorm[cnorm == 0] = 1.0
        vn = np.linalg.norm(v, axis=1, keepdims=True)
        vn[vn == 0] = 1.0
        return [(((v / vn) @ (cmat / cnorm).T).argmax(axis=1), v)]

    return lloyd(corpus, [seeds], assign, refine_iters, vec_col)[0].tolist()


def _hash_sample(
    corpus: DataFrame, k: int, id_col: str, vec_col: str
) -> np.ndarray:
    """The ``k`` non-NULL vectors with the smallest ``xxhash64(id)``
    (ties by id) as a (≤ k, dim) float64 matrix: a deterministic
    pseudo-random sample, one TakeOrdered top-k with no full sort, that
    seeds min(|corpus|, k) rows whatever the id distribution (a stride
    rule ``id % (count//k) == 0`` seeds nothing when the ids miss the
    stride)."""
    import numpy as np

    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(k)
        .select(as_double(F.col(vec_col)).alias("v"))
        .collect()  # bound: k rows
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def lloyd(
    corpus: DataFrame,
    seeds: list,
    assign,
    iters: int,
    vec_col: str,
) -> list:
    """Lloyd (k-means) refinement of ``m`` independent codebooks, one
    distributed pass per iteration over the non-NULL vectors of
    ``corpus``.

    ``seeds`` is a list of ``m`` (k_j, d_j) float64 arrays (a subspace
    each); ``assign(v, books)`` maps an (n, dim) batch to one ``(cells,
    x)`` per subspace: each row's cell index and the (n, d_j) rows to
    average into it.  Each iteration broadcasts the codebooks, runs one
    numpy ``mapInPandas`` that emits per-batch partial (subspace, cell,
    count, sum) rows, collects them — ≤ partitions × m × k rows, bounded
    by the cluster shape, not the data — and re-averages on the driver;
    an empty cell keeps its codeword.  Returns the refined arrays.

    Assignment runs in numpy against a broadcast ndarray, not through
    plan-literal centroids: those embed k × dim constants in a fresh
    codegen unit per iteration, measured 4.1 s/iteration at sf0.1 (32×64)
    vs 0.2 s here with `allclose(1e-9)` agreement."""
    import numpy as np

    books = [b.copy() for b in seeds]
    vecs = corpus.filter(F.col(vec_col).isNotNull()).select(
        as_double(F.col(vec_col)).alias("__v")
    )
    sc = corpus.sparkSession.sparkContext
    for _ in range(iters):
        bc = sc.broadcast(books)

        def partials(batches):
            bks = bc.value
            for batch in batches:
                if not len(batch):
                    continue
                v = np.array(list(batch["__v"]), dtype=np.float64)
                out = {"subspace": [], "cell": [], "n": [], "s": []}
                for j, (cells, x) in enumerate(assign(v, bks)):
                    for c in np.unique(cells):
                        out["subspace"].append(j)
                        out["cell"].append(int(c))
                        out["n"].append(int((cells == c).sum()))
                        out["s"].append(x[cells == c].sum(axis=0))
                yield pd.DataFrame(out)

        parts = vecs.mapInPandas(
            partials, schema="subspace int, cell int, n long, s array<double>"
        ).collect()  # bound: ≤ partitions × m × k rows
        sums: dict = {}
        counts: dict = {}
        for r in parts:
            key = (r["subspace"], r["cell"])
            sums[key] = sums.get(key, 0) + np.array(r["s"], dtype=np.float64)
            counts[key] = counts.get(key, 0) + r["n"]
        for (j, c), n in counts.items():
            books[j][c] = sums[(j, c)] / n
        bc.unpersist()
    return books


def _centroid_cells(centroids: list[list[float]]) -> Column:
    """The centroid set as ONE plan literal so cell assignment is a pure
    map (no shuffle, no window, no join)."""
    return F.array(
        *[
            F.struct(F.lit(i).alias("cell"), F.lit(c).alias("centroid"))
            for i, c in enumerate(centroids)
        ]
    )


def assign_cells_np(
    df: DataFrame,
    centroids: list[list[float]],
    out: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Broadcast-numpy twin of :func:`_assign_cells` for the probes=1
    case: ``(out, out_v, cell)`` with the argmax-cosine cell (ties to the
    lowest cell index — numpy argmax == the `_assign_cells` comparator).

    Exists for the same reason the Lloyd loop in :func:`ivf_build` went
    numpy: the plan-literal path embeds n_centroids × dim constants in a
    codegen unit and pays a multi-second compile PER QUERY at 32×64;
    the broadcast ndarray keeps the plan tiny and the matmul vectorized
    (the `cosine_topk_np` lesson).  `_assign_cells` stays the right tool
    for multi-probe IVF where the ranked slice must be a column
    expression.
    """
    import numpy as np

    v0 = as_double(F.col(vec_col))
    if not centroids:
        # empty corpus seeds no centroids: nothing can be assigned —
        # an empty frame with the right schema, not an axis error
        return df.select(
            F.col(id_col).alias(out),
            v0.alias(f"{out}_v"),
            F.lit(0).alias("cell"),
        ).filter(F.lit(False))
    cmat = np.array(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    bc = df.sparkSession.sparkContext.broadcast(cmat / cnorm)

    @F.pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int32")
        v = np.array(vecs.tolist(), dtype=np.float64)
        vn = np.linalg.norm(v, axis=1, keepdims=True)
        vn[vn == 0] = 1.0
        return pd.Series(((v / vn) @ bc.value.T).argmax(axis=1).astype("int32"))

    # Marked non-deterministic (it is not — but the marker stops the
    # optimizer's filter pushdown from DUPLICATING the evaluation: the
    # downstream equi-join on `cell` implies isnotnull(cell), and the
    # pushed filter otherwise lands BELOW the projection, yielding two
    # ArrowEvalPython nodes per assignment — every corpus vector paid
    # the Python round-trip and the broadcast matmul twice.
    cell_of = cell_of.asNondeterministic()

    v = as_double(F.col(vec_col))
    # a NULL vector has no cell: it never pairs
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias(out),
        v.alias(f"{out}_v"),
        cell_of(v).alias("cell"),
    )


def _assign_cells(
    df: DataFrame,
    cells: Column,
    out: str,
    probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per row: cosine against every centroid, sort, keep ``probes``
    cells — all inside one projected expression."""
    v = as_double(F.col(vec_col))
    sims = F.transform(
        cells,
        lambda s: F.struct(
            s["cell"].alias("cell"), cosine(v, s["centroid"]).alias("sim")
        ),
    )
    ranked = F.array_sort(
        sims,
        lambda l, r: F.when(l["sim"] > r["sim"], -1)
        .when(l["sim"] < r["sim"], 1)
        .otherwise(l["cell"] - r["cell"]),
    )
    return df.select(
        F.col(id_col).alias(out),
        v.alias(f"{out}_v"),
        F.explode(
            F.transform(F.slice(ranked, 1, probes), lambda s: s["cell"])
        ).alias("cell"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
    n_probe: int = 4,
    refine_iters: int = 0,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Classic two-level ANN: partition the corpus into ``n_centroids``
    Voronoi cells, then each query scans only its ``n_probe`` nearest
    cells.  ``n_centroids=None`` derives the cell count from the corpus
    size (√n — :func:`n_cells_for`), keeping per-query cost sublinear
    as the corpus grows.

    Plan: centroids broadcast everywhere (they are tiny); corpus pays one
    narrow pass to compute its cell id (no shuffle of vectors — the
    assignment is a map); queries explode to ``n_probe`` (query, cell)
    rows; the candidate join is an equi-join on cell id.  Comparisons drop
    to ~``n_probe / n_centroids`` of brute force.  For a REUSED index,
    :func:`write_ivf_index` + :func:`ivf_search` persist the assignment
    as a cell-partitioned layout and partition-prune each search.

    ``exclude_self`` (default True) drops pairs whose query id EQUALS the
    neighbor id — the right default when queries are drawn from the
    corpus itself and a vector's trivial self-match would waste a top-k
    slot.  Pass False when query and corpus keys live in independent
    namespaces that may collide numerically (e.g. query q's pooled
    centroid searching DOC centroids in :func:`maxsim_ann_topk`): there
    an id-equality filter would silently drop a legitimate neighbor.
    """
    if n_centroids is None:
        n_centroids = n_cells_for(corpus.count())  # bound: one row
    centroids = ivf_build(corpus, n_centroids, id_col, vec_col, refine_iters)
    if not centroids:
        # empty corpus seeds zero centroids (hash-order seeding seeds
        # min(|corpus|, k)); the plan-literal cell ranking would embed a
        # VOID-typed array and raise a baffling AnalysisException deep in
        # analysis — an empty corpus has no neighbors,
        # so return the empty result with the contract schema instead.
        q = queries.select(F.col(id_col).alias("query_id"))
        c = corpus.select(F.col(id_col).alias("neighbor_id"))
        return q.crossJoin(c).withColumn(
            "cosine", F.lit(None).cast("double")
        ).limit(0)
    cells = _centroid_cells(centroids)
    # Corpus (probes=1) assigns through the SAME numpy path as
    # write_ivf_index / incremental_semantic_pairs — one implementation
    # for every probes=1 corpus assignment, so a float-edge vector can
    # never land in different cells on two sides of the same comparison
    # (ties break to the lowest cell on both paths).
    # Queries keep the plan-literal multi-probe ranking.
    c = assign_cells_np(corpus, centroids, "neighbor_id", id_col, vec_col)
    q = _assign_cells(queries, cells, "query_id", n_probe, id_col, vec_col)
    return _best_pairs(c.join(F.broadcast(q), on="cell"), k, exclude_self)


def _best_pairs(joined: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """The ANN top-k tail: candidate (query_id, query_id_v, neighbor_id,
    neighbor_id_v) rows, optionally without self-matches, scored by
    cosine; a pair met in several cells or tables keeps one row (equal
    cosines — ``max`` is just the dedup), then the top ``k`` per query
    (cosine desc, neighbor_id asc)."""
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = (
        joined.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("query_id_v"), F.col("neighbor_id_v")).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
    )


def _plane(seed: int, j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components (Mersenne Twister
    seeded by (seed, j) — stable across runs and platforms)."""
    import random

    rng = random.Random(seed * 1_000_003 + j)
    return [rng.uniform(-1.0, 1.0) for _ in range(dim)]


def projection_matrix(
    out_dim: int, in_dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic Johnson–Lindenstrauss projection matrix: ``out_dim``
    rows of ``in_dim`` uniform(-1,1) components (same Mersenne-Twister
    seeding discipline as :func:`_plane`, offset so the two families
    never share a row), scaled by ``1/sqrt(out_dim)`` so expected
    squared norms are preserved.  Generated driver-side and shipped as
    array literals — tiny (out_dim × in_dim doubles) at any corpus
    size."""
    import math

    scale = 1.0 / math.sqrt(out_dim)
    return [
        [c * scale for c in _plane(seed * 7919 + 104729, j, in_dim)]
        for j in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    out_col: str = "rp",
) -> DataFrame:
    """Seeded random-projection dimensionality reduction (Johnson–
    Lindenstrauss): attach a ``out_dim``-component double array whose
    pairwise distances/angles approximate the original's — the standard
    cheapening step BEFORE brute-force rerank or LSH when embeddings are
    wide (project 1024→64, search, rerank survivors at full width).

    Pure column expressions (one left-to-right ``dot`` fold per output
    component against a literal matrix row), so projecting 100 TB is a
    scan: no shuffle, no Python, and the fold order matches the SQL
    oracle's summation exactly."""
    m = projection_matrix(out_dim, _dim_of(df, vec_col), seed)
    v = as_double(F.col(vec_col))
    return df.withColumn(out_col, F.array(*[dot(v, F.lit(row)) for row in m]))


def _dim_of(df: DataFrame, vec_col: str) -> int:
    """Vector width from one row (embeddings are fixed-width by schema
    contract; a bounded single-row peek, not a scan)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()  # bound: one row
    if row is None:
        raise ValueError(f"random_project: empty frame, cannot infer {vec_col} width")
    return int(row["d"])


def hyperplane_signature(
    vec: Column, n_planes: int = 16, dim: int = 64, seed: int = 42
) -> Column:
    """Random-hyperplane LSH signature (sign pattern of ``n_planes`` dot
    products) packed into a long.

    Each plane ships as ONE array<double> literal (components generated
    driver-side) — building them element-by-element as column expressions
    costs thousands of plan-construction round trips and dominated wall
    clock before any row was processed."""
    total = None
    v = as_double(vec)
    for j in range(n_planes):
        plane = F.lit(_plane(seed, j, dim))
        bit = F.when(dot(v, plane) >= 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        total = bit if total is None else (total + bit)
    return total


def hyperplane_signatures_np(
    df: DataFrame,
    out: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_base: int = 42,
) -> DataFrame:
    """All ``n_tables`` hyperplane buckets per vector in ONE broadcast-
    numpy pass: ``(out, tbl, bucket)`` exploded rows, ids only (vectors
    never ride the bucket join — the `embedding_lsh_pairs` discipline).

    Numpy twin of :func:`hyperplane_signature` for the multi-table
    blocking path: the plan-literal formulation embeds
    n_tables × n_planes × dim constants (2048 doubles at the dedup
    defaults) in a codegen unit whose compile dominates wall clock at
    small-to-mid scale — the same lesson as `ivf_build`'s Lloyd loop.
    Same sign rule (``dot ≥ 0``) and bit packing; a sign can differ from
    the JVM fold only when a dot product sits within float-summation
    error of exactly zero, which the recall gates absorb by design.
    """
    import numpy as np

    planes = np.array(
        [
            _plane(seed_base + t, j, dim)
            for t in range(n_tables)
            for j in range(n_planes)
        ],
        dtype=np.float64,
    )  # (n_tables*n_planes, dim)
    bits = (2 ** np.arange(n_planes, dtype=np.int64))
    bc = df.sparkSession.sparkContext.broadcast(planes)

    def sigs(batches):
        pl = bc.value
        for batch in batches:
            if not len(batch):
                continue
            v = np.array(list(batch["__v"]), dtype=np.float64)
            d = v @ pl.T  # (n, tables*planes)
            nonneg = (d >= 0).reshape(len(v), n_tables, n_planes)
            buckets = (nonneg * bits).sum(axis=2)  # (n, tables)
            ids = batch["__id"]
            yield pd.DataFrame(
                {
                    "__id": np.repeat(ids, n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(v)),
                    "bucket": buckets.ravel(),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return (
        # a NULL vector has no bucket: it never pairs
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            as_double(F.col(vec_col)).alias("__v"),
        )
        .mapInPandas(sigs, schema=f"__id {id_type}, tbl int, bucket long")
        .select(F.col("__id").alias(out), "tbl", "bucket")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    ``n_tables`` independent tables of ``n_planes`` hyperplanes each (table
    t's planes are seeded by t); a corpus vector is a candidate for a query
    if they share ANY table's bucket.  Recall for a pair at angle θ is
    1 − (1 − (1 − θ/π)^planes)^tables — the OR-of-ANDs S-curve; one table
    of many planes (the naive setup) over-partitions and recall collapses
    when buckets hold fewer than k vectors.

    ``n_planes=None`` derives the plane count from the corpus size
    (``dedup.lsh_planes_for`` — constant expected bucket occupancy), the
    same fixed-parameter fix as the embedding-LSH dedup path:
    with FIXED planes the per-table bucket count is fixed, so candidate
    pairs per query grow linearly with the corpus and the whole top-k
    degenerates toward brute force (sf1.0 probe measured exponent 0.54
    at 4 planes; occupancy-derived planes keep the candidate set
    ~constant per query).  Recall-critical deployments grow ``n_tables``
    alongside, per the S-curve above.

    Plan shape: fixed fan-out explode (one row per table) → equi-join on
    (table, bucket) against the broadcast queries → per-pair dedup via
    groupBy (cosine is scored once per surviving pair) → top-k window over
    candidates only.  Comparisons drop from |Q|×|C| to the bucket-collision
    count, which is the 100 TB lever.
    """

    if n_planes is None:
        from kusuma_metamorph_etl_spark.operators.dedup import lsh_planes_for

        n_planes = lsh_planes_for(corpus.count())  # bound: one row

    def sig(df: DataFrame, out: str) -> DataFrame:
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    hyperplane_signature(
                        F.col(vec_col), n_planes, dim, seed=42 + t
                    ).alias("bucket"),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(out),
            as_double(F.col(vec_col)).alias(f"{out}_v"),
            F.explode(tables).alias("tb"),
        ).select(out, f"{out}_v", "tb.tbl", "tb.bucket")

    q = sig(queries, "query_id")
    c = sig(corpus, "neighbor_id")
    joined = c.join(F.broadcast(q), on=["tbl", "bucket"])
    return _best_pairs(joined, k, exclude_self=True)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> list[list[float]]:
    """Persist an IVF index: the corpus written ``partitionBy(cell)`` plus
    the centroid set as JSON alongside.

    This is the at-scale shape for a REUSED index (training-data dedup /
    retrieval runs query the same corpus many times): paying the
    assignment pass once turns every subsequent search's candidate scan
    into a partition-pruned read of ``n_probe/n_centroids`` of the files
    (:func:`ivf_search`), instead of re-assigning 100 TB per query batch.
    """
    import json

    if n_centroids is None:
        n_centroids = n_cells_for(corpus.count())  # bound: one row
    centroids = ivf_build(corpus, n_centroids, id_col, vec_col, refine_iters)
    # numpy assignment — the ONE probes=1 corpus-assignment path (shared
    # with ivf_topk's corpus side, semantic_pairs, and
    # incremental_semantic_pairs' new-batch side), so vectors written
    # here and batches assigned later can never disagree on a
    # float-edge argmax cell
    assigned = assign_cells_np(corpus, centroids, id_col, id_col, vec_col)
    (
        assigned.withColumnRenamed(f"{id_col}_v", vec_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    # Sidecar written through Spark so any filesystem works (local open()
    # would break on hdfs://s3a:// URIs); the leading underscore hides the
    # directory from parquet readers of `path`.
    spark = corpus.sparkSession
    spark.createDataFrame([(json.dumps(centroids),)], "value string").coalesce(
        1
    ).write.mode("overwrite").text(f"{path}/_ivf_centroids")
    return centroids


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Top-k against a persisted IVF index (:func:`write_ivf_index`).

    The probed cell set is collected (bounded by ``n_centroids``) and
    pushed as a STATIC partition filter, so the corpus scan reads only
    the probed cells' files — partition pruning doing the work the
    assignment map did in :func:`ivf_topk`.
    """
    import json

    centroids = json.loads(
        # bound: one row (the JSON centroid sidecar)
        spark.read.text(f"{path}/_ivf_centroids").first()["value"]
    )
    cells = _centroid_cells(centroids)
    # One pass over the query side: the assignment rows are bounded by
    # |Q| x n_probe (queries must be the small/broadcast side), so collect
    # once and rebuild locally instead of re-running the source scan +
    # centroid scoring for the probed-cells set AND again for the join.
    q_rows = _assign_cells(queries, cells, "query_id", n_probe, id_col, vec_col)
    collected = q_rows.collect()  # bound: |Q| × n_probe rows
    q = spark.createDataFrame(collected, q_rows.schema)

    probed = sorted({r["cell"] for r in collected})  # bounded: <= n_centroids
    corpus = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probed))  # static partition pruning
        .select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("neighbor_id_v"),
            "cell",
        )
    )
    return _best_pairs(corpus.join(F.broadcast(q), on="cell"), k, exclude_self=True)


def mmr_select(
    candidates: DataFrame,
    query_vec: list[float],
    k: int = 10,
    lam: float = 0.5,
    pool: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein '98):
    greedily pick ``k`` items maximizing ``lam·rel − (1−lam)·max-sim-to-
    selected`` — the diversity-aware sampling step corpus curation and
    few-shot-example selection run after a relevance retrieval (pure
    top-k returns k near-duplicates of the best hit; MMR spends the
    budget on coverage).

    The 100 TB shape: relevance (cosine to the broadcast ``query_vec``)
    is a narrow distributed pass; a ``TakeOrdered`` trims to the top
    ``pool`` candidates (the ONLY collect — bounded by ``pool``, never
    corpus-sized); the inherently-sequential greedy loop then runs on
    the driver over that bounded pool in numpy (k·pool dot products).
    Exactly the bounded-driver pattern `ivf_build`'s Lloyd loop uses.
    Ties break on (score desc, id asc) at both stages, so the selection
    is deterministic and partition-invariant.

    ``lam=1.0`` degrades to pure relevance top-k — the oracle-checkable
    contract (`sim_mmr_err` hash-compares it against plain SQL top-k);
    diversity behavior at ``lam<1`` is pinned by unit tests against an
    independent numpy greedy reference (note the semantics precisely:
    a fully-penalized exact duplicate CAN still be selected once every
    distinct direction scores worse — greedy MMR ranks, it does not
    hard-exclude).
    """
    import numpy as np

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k > pool:
        raise ValueError(f"k ({k}) must be <= pool ({pool})")
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn == 0:
        raise ValueError("query_vec must be non-zero")
    spark = candidates.sparkSession
    rel = candidates.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("__v"),
        cosine(
            as_double(F.col(vec_col)), F.lit([float(x) for x in q])
        ).alias("__rel"),
    )
    top = (
        # NULL vectors / NULL relevance (zero-norm convention) sort last
        # under DESC anyway, but when pool >= |corpus| they'd enter the
        # pool and poison the numpy stage — drop them explicitly.
        rel.filter(F.col("__v").isNotNull() & F.col("__rel").isNotNull())
        .orderBy(F.desc("__rel"), F.col(id_col))
        .limit(pool)
        .collect()  # bound: pool rows
    )
    if not top:
        return spark.createDataFrame(
            [],
            schema=(
                f"rank int, {id_col} "
                f"{candidates.schema[id_col].dataType.simpleString()},"
                " relevance double, mmr_score double"
            ),
        )
    ids = [r[id_col] for r in top]
    vecs = np.array([r["__v"] for r in top], dtype=np.float64)
    rels = np.array([r["__rel"] for r in top], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    selected: list[int] = []
    scores: list[float] = []
    max_sim = np.full(len(top), -np.inf)
    remaining = np.ones(len(top), dtype=bool)
    for _ in range(min(k, len(top))):
        if selected:
            penalty = np.where(np.isinf(max_sim), 0.0, max_sim)
            mmr = lam * rels - (1 - lam) * penalty
        else:
            mmr = lam * rels
        mmr = np.where(remaining, mmr, -np.inf)
        # argmax with id tie-break: ids arrive rel-desc/id-asc sorted,
        # so the FIRST max index is the deterministic winner
        best = int(np.argmax(mmr))
        selected.append(best)
        scores.append(float(mmr[best]))
        remaining[best] = False
        sims = unit @ unit[best]
        max_sim = np.maximum(max_sim, sims)
    rows = [
        (rank, ids[i], round(float(rels[i]), 6), round(scores[rank], 6))
        for rank, i in enumerate(selected)
    ]
    id_type = candidates.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        rows,
        schema=f"rank int, {id_col} {id_type}, relevance double, mmr_score double",
    )


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_to: int = 6,
    assemble: bool = True,
) -> DataFrame:
    """Element-wise mean embedding per group — the corpus/label centroid
    primitive (topic centroids for routing, class prototypes, the seed
    step of any diversity-sampling loop).

    The 100 TB shape is posexplode → (group, position) average →
    re-assemble, NOT ``collect_list`` + driver math: the explode is a
    narrow ×dim fan-out, the average gets map-side partial aggregation,
    and no task ever holds a group's full vector set.  Re-assembly sorts
    (position, mean) structs and projects the means — order is exact,
    never collection-order luck.  Means round to ``round_to`` dp so both
    engines agree despite summation order (the registry convention).

    ``assemble=False`` skips the re-assembly and returns the long-form
    ``(group, pos, m, n_vectors)`` grain (0-based ``pos``) — one scalar
    row per vector component.  That is the driver-hashable registration
    shape (pandas canonicalizers cannot sort array cells) and the shape
    downstream joins against component tables want anyway.
    """
    pos = df.select(
        F.col(group_col).alias("g"),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"),
    )
    per_pos = pos.groupBy("g", "pos").agg(
        F.round(F.avg("x"), round_to).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    if not assemble:
        return per_pos.select(
            F.col("g").alias(group_col),
            F.col("pos").cast("int").alias("pos"),
            "m",
            F.col("n").cast("long").alias("n_vectors"),
        )
    return (
        per_pos.groupBy("g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid"),
            # every position sees the same row count — the group size
            F.max("n").alias("n_vectors"),
        )
        .select(
            F.col("g").alias(group_col),
            "centroid",
            F.col("n_vectors").cast("long").alias("n_vectors"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(x * 127 /
    max_abs)``, stored with its ``scale = max_abs / 127`` — the standard
    4× storage/bandwidth reduction for large embedding corpora (dot
    products on int8 then rescale; recall loss is bounded by the per-
    component rounding).  Pure column expressions; zero vectors keep
    scale 0 and quantize to zeros.

    Output: ``(id, qvec array<int>, scale double)`` — int8-ranged values
    in an int array (parquet stores them dictionary/RLE-compressed;
    Spark has no int8 array element type).
    """
    v = as_double(F.col(vec_col))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    qvec = F.when(
        max_abs > 0,
        F.transform(v, lambda x: F.round(x * 127.0 / max_abs).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(F.col(id_col), qvec.alias("qvec"), scale.alias("scale"))


def dequantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``x ≈ q * scale``."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
        ).alias("embedding"),
    )


# ----------------------------------------------------------------- PQ
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): compress each L2-normalized vector to m
# subspace codewords (m*log2(k) bits) and score candidates against a
# query with a per-subspace lookup table (ADC) — the memory-bound ANN
# complement of the int8 scalar path (`quantize_embeddings`): 64-dim
# float64 = 512 bytes -> m=8,k=16 = 8 bytes, so a 100 TB embedding
# corpus's codes fit in cluster RAM and candidate scoring never touches
# the raw vectors.


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: ``m`` codebooks of ``k`` codewords
    over the L2-normalized corpus, seeded from the hash-order vector
    sample (:func:`_hash_sample`, the `ivf_build` rule) and refined with
    :func:`lloyd` iterations that run ALL subspaces in ONE distributed
    pass each.  Assignment
    is L2 per subspace — on normalized vectors ADC's summed dot products
    approximate cosine.  Ties break to the lowest codeword (numpy argmin
    rule); empty cells keep their previous codeword."""
    import numpy as np

    seed = _hash_sample(corpus, k, id_col, vec_col)
    if not len(seed):
        return []
    dim = seed.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    norms = np.linalg.norm(seed, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    seed = seed / norms

    def assign(v, books):
        # L2 argmin per subspace over the normalized slices
        vn = np.linalg.norm(v, axis=1, keepdims=True)
        vn[vn == 0] = 1.0
        v = v / vn
        out = []
        for j, bk in enumerate(books):
            x = v[:, j * sub : (j + 1) * sub]
            d = ((x[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
            out.append((d.argmin(axis=1), x))
        return out

    # k codewords per subspace from the same k seed vectors' slices
    books = [seed[:, j * sub : (j + 1) * sub] for j in range(m)]
    return [b.tolist() for b in lloyd(corpus, books, assign, refine_iters, vec_col)]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Distributed encode: each L2-normalized vector becomes its
    ``array<int>`` of per-subspace nearest codewords (Arrow batches,
    codebooks in the task closure — m*k*sub doubles, KBs).  Ids keep
    their type."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    def enc(batches):
        import pandas as pd_

        for batch in batches:
            if not len(batch):
                continue
            v = np.array(list(batch["__v"]), dtype=np.float64)
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            vn[vn == 0] = 1.0
            v = v / vn
            codes = np.empty((len(v), m), dtype=np.int64)
            for j, bk in enumerate(books):
                x = v[:, j * sub : (j + 1) * sub]
                d = ((x[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd_.DataFrame(
                {"__id": batch["__id"], out_col: list(codes)}
            )

    return (
        df.select(
            F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
        )
        .mapInPandas(
            enc,
            schema=StructType([
                StructField("__id", df.schema[id_col].dataType),
                StructField(out_col, ArrayType(LongType())),
            ]),
        )
        .withColumnRenamed("__id", id_col)
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k: per-query lookup tables LUT[j][c] = <query_subspace_j,
    codeword_c> broadcast to executors; each partition scores its codes
    by m table lookups per row and emits only its LOCAL top-k per query
    (numpy lexsort), so the final exact window ranks ≤ partitions ×
    queries × k partial rows — the corpus never shuffles and raw vectors
    are never read.  Ties break on (score desc, neighbor_id).  Queries
    are a bounded frame (same contract as `cosine_topk`'s query side);
    self-matches (query_id == neighbor_id) are excluded like the exact
    path.  Ids keep their type."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    qrows = queries.select(
        F.col(id_col).alias("qid"), as_double(F.col(vec_col)).alias("v")
    ).collect()  # bound: |Q| rows (the query set is the small side)
    if not qrows:
        raise ValueError("pq_topk: empty query frame")
    qids = [r["qid"] for r in qrows]
    qv = np.array([r["v"] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qv, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qv = qv / qn
    # LUT: queries x m x k
    lut = np.stack(
        [qv[:, j * sub : (j + 1) * sub] @ books[j].T for j in range(m)],
        axis=1,
    )
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((qids, lut))
    kk = k

    def score(batches):
        import pandas as pd_

        q_ids, tables = bc.value
        nq = len(q_ids)
        for batch in batches:
            if not len(batch):
                continue
            ids = batch["__id"].to_numpy()
            cds = np.array(list(batch[code_col]), dtype=np.int64)
            # scores: corpus_rows x queries — sum of m LUT gathers
            s = np.zeros((len(ids), nq), dtype=np.float64)
            for j in range(m):
                s += tables[:, j, :][:, cds[:, j]].T
            out = {"query_id": [], "neighbor_id": [], "adc_score": []}
            take = min(kk + 1, len(ids))  # +1 absorbs a self-match
            for qi in range(nq):
                col = s[:, qi]
                # lexsort, NOT argpartition: quantized codes make exact
                # score TIES common (distinct vectors, same codewords),
                # and a partition-local selection that breaks ties
                # arbitrarily drops candidates the GLOBAL (score desc,
                # id asc) order would keep — output then varies with
                # partitioning.  The local order must match the final
                # window's comparator.
                top = np.lexsort((ids, -col))[:take]
                for t in top:
                    if ids[t] == q_ids[qi]:
                        continue
                    out["query_id"].append(q_ids[qi])
                    out["neighbor_id"].append(ids[t])
                    out["adc_score"].append(float(col[t]))
            yield pd_.DataFrame(out)

    partial = codes.select(
        F.col(id_col).alias("__id"), F.col(code_col)
    ).mapInPandas(
        score,
        schema=StructType([
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("neighbor_id", codes.schema[id_col].dataType),
            StructField("adc_score", DoubleType()),
        ]),
    )
    return top_k_per_group(
        partial,
        ["query_id"],
        [F.col("adc_score").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "adc_score")


def pq_topk_rerank(
    queries: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """The production PQ shape: ADC over the codes generates a
    ``shortlist`` of candidates per query (the only full-corpus pass —
    m table lookups per row, raw vectors untouched), then ONLY those
    |Q|·shortlist candidate rows join back to the corpus for an exact
    cosine re-rank.  Compression does the scan, floats decide the
    ranking: measured at sf0.01, shortlist=50 recovers exact recall 1.0
    where pure ADC top-5 sits at 0.59 (m=16, k=64)."""
    cands = pq_topk(
        queries,
        codes,
        codebooks,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        code_col=code_col,
    ).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        cands.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 3,
    d_col: str = "dkey",
    q_col: str = "qkey",
    tok_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style MaxSim): score a
    (query, doc) pair as ``Σ_{i∈q} max_{j∈d} cos(q_i, d_j)`` over TOKEN
    embeddings, and return the top-``k`` docs per query — the
    multi-vector scoring model that beats single-vector cosine on
    fine-grained matches because every query token independently finds
    its best counterpart.

    Shape: the query token set (queries × tokens — small by definition;
    production systems score a candidate set this way after ANN
    prefilter) BROADCASTS against one scan of the doc tokens; the
    per-token maxima then reduce in two map-side-combinable aggregates
    (max is order-independent; the final sum runs over 9-dp-rounded
    DECIMAL values — the same exact-sum discipline as the bigram-LM
    scorer — so engines and partitionings agree bit-for-bit).  No
    shuffle ever carries embedding arrays beyond the doc-token scan.

    ``candidates`` — an optional ``(q_col, d_col)`` frame (small: |q|×N
    rows from an ANN prefilter) — restricts scoring to those pairs: the
    candidate list broadcasts onto the doc-token scan, so only candidate
    docs' tokens are ever scored and per-query cost becomes
    N·tokens-per-doc, independent of corpus size (the production
    ColBERT shape; :func:`maxsim_ann_topk` wires the prefilter)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    q = query_tokens.select(
        F.col(q_col),
        F.col(tok_col).alias("__qtok"),
        F.col(vec_col).alias("__qvec"),
    )
    d = doc_tokens.select(
        F.col(d_col),
        F.col(vec_col).alias("__dvec"),
    )
    if candidates is None:
        pairs = d.join(broadcast(q))
    else:
        pairs = d.join(
            broadcast(candidates.select(q_col, d_col)), on=d_col
        ).join(broadcast(q), on=q_col)
    per_token = (
        pairs.select(
            q_col,
            "__qtok",
            d_col,
            cosine(as_double(F.col("__qvec")), as_double(F.col("__dvec"))).alias(
                "__cos"
            ),
        )
        .groupBy(q_col, "__qtok", d_col)
        .agg(F.max("__cos").alias("__maxc"))
    )
    scored = (
        per_token.select(
            q_col,
            d_col,
            F.round("__maxc", 9).cast("decimal(38,9)").alias("__maxc"),
        )
        .groupBy(q_col, d_col)
        .agg(
            F.round(F.sum("__maxc").cast("double"), 6).alias("maxsim"),
            F.count(F.lit(1)).alias("n_query_tokens"),
        )
    )
    w = Window.partitionBy(q_col).orderBy(F.desc("maxsim"), F.col(d_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def maxsim_ann_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 3,
    n_candidates: int | None = None,
    d_col: str = "dkey",
    q_col: str = "qkey",
    tok_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int | None = None,
    refine_iters: int = 1,
) -> DataFrame:
    """ANN-prefiltered MaxSim — the PRODUCTION ColBERT retrieval shape
    (the registered scale path beside :func:`maxsim_topk`'s exact
    token-level baseline):

    1. POOL: each token set collapses to its mean vector
       (:func:`group_centroids` — posexplode/avg/re-assemble, no task
       ever holds a full token set);
    2. PREFILTER: an IVF index over the pooled DOC vectors
       (:func:`ivf_topk`, √n-derived cells) shortlists the
       ``n_candidates`` nearest doc centroids per pooled query —
       per-query cost ~``n_probe·√n_docs`` instead of ``n_docs``;
    3. RE-RANK: exact MaxSim over the CANDIDATE docs' tokens only
       (:func:`maxsim_topk` with ``candidates=``) — per-query cost
       ``|q|·n_candidates·tokens_per_doc``, sublinear in corpus size.

    ``n_probe``/``n_candidates`` default to None = DERIVED from the
    pooled corpus size (:func:`maxsim_probe_for` holds the probed-cell
    fraction constant as cells grow √n; :func:`maxsim_candidates_for`
    grows the shortlist as √n_docs) — the derived-parameter rule of
    `n_cells_for` / `lsh_planes_for`: fixture-tuned constants decay as
    the corpus grows (measured recall 0.917/0.917/0.795 at the three
    driver scales with a fixed (10, 35); BENCH_SCALE.json records the
    fixed-vs-derived recall/latency points at sf0.1/sf1.0).
    Pass explicit ints to pin either knob.

    Doc and query keys stay in their OWN namespaces end to end: the
    prefilter searches doc centroids with ``exclude_self=False``, so a
    qkey numerically equal to a dkey (the common "queries are drawn
    from the corpus" shape) cannot be mistaken for a self-match and
    silently dropped from its own shortlist.  (Offsetting qkeys by 2^40
    into a shared id space instead is unsound for 64-bit hashed keys,
    where the offset could collide or overflow.)  Keys of
    ANY orderable type work, like :func:`maxsim_topk` itself.

    Same tie discipline as the exact row (score DESC, dkey ASC; 9-dp
    decimal token sums) — so when the shortlist contains the true top-k,
    the output EQUALS the exact row's, making doc-grain recall against
    :func:`maxsim_topk` the natural quality gate (the registered
    ``sim_maxsim_ann_err`` row pins it at ≥ 0.7).

    The pooled doc frame is shared EAGERLY: the index-build path takes ~4 passes over it (cell-count
    derivation, seed collect, Lloyd pass, assignment scan in the final
    plan) and each pass over the LAZY frame re-runs the full token-table
    pooling aggregation — a whole-corpus scan + shuffle.  Materializing
    the pooled proxy once (n_docs×dim doubles — the small side by
    construction) turns three redundant corpus aggregations into block
    reads (measured at sf0.1: construct 2.3 s → ~0.9 s, execute
    unchanged)."""
    dcent = share(
        group_centroids(doc_tokens, d_col, vec_col=vec_col).select(
            F.col(d_col).alias(tok_col), F.col("centroid").alias(vec_col)
        ),
        eager=True,
    )
    if n_probe is None or n_candidates is None or n_centroids is None:
        n_docs = dcent.count()  # bound: one row
        if n_centroids is None:
            n_centroids = n_cells_for(n_docs)
        if n_probe is None:
            n_probe = maxsim_probe_for(n_centroids)
        if n_candidates is None:
            n_candidates = maxsim_candidates_for(n_docs)
    qcent = group_centroids(query_tokens, q_col, vec_col=vec_col).select(
        F.col(q_col).alias(tok_col), F.col("centroid").alias(vec_col)
    )
    cands = ivf_topk(
        qcent,
        dcent,
        k=n_candidates,
        id_col=tok_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        n_probe=n_probe,
        refine_iters=refine_iters,
        exclude_self=False,
    ).select(
        F.col("query_id").alias(q_col),
        F.col("neighbor_id").alias(d_col),
    )
    return maxsim_topk(
        doc_tokens,
        query_tokens,
        k=k,
        d_col=d_col,
        q_col=q_col,
        tok_col=tok_col,
        vec_col=vec_col,
        candidates=cands,
    )
