"""Similarity-search tests: exact cosine math sanity, and the multi-table
hyperplane LSH validated for recall against the brute-force ground truth."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import similarity


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_cosine_identity(spark, sf_small):
    emb = _emb(spark, sf_small)
    v = F.col("embedding")
    out = emb.select(similarity.cosine(
        similarity.as_double(v), similarity.as_double(v)
    ).alias("c")).collect()
    assert all(abs(r["c"] - 1.0) < 1e-12 for r in out)


def test_cosine_topk_shape_and_ordering(spark, sf_small):
    emb = _emb(spark, sf_small)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = similarity.cosine_topk(queries, emb, k=5).collect()
    per_query: dict[int, list[float]] = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        per_query.setdefault(r["query_id"], []).append(r["cosine"])
    assert all(len(v) == 5 for v in per_query.values())
    # row_number ordering: cosines per query arrive non-increasing.
    assert all(v == sorted(v, reverse=True) for v in per_query.values())


@pytest.mark.slow
def test_lsh_topk_recall(spark, sf_small):
    emb = _emb(spark, sf_small)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(queries, emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Multi-table OR-amplification: measured 0.74 at sf0.001 with the
    # default 8 tables × 4 planes; 0.5 is the regression floor.
    assert recall >= 0.5, f"lsh recall {recall} below contract"


def test_cosine_topk_np_matches_jvm(spark, sf_small):
    emb = _emb(spark, sf_small)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    jvm = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }
    np_ = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_np(queries, emb, k=5).collect()
    }
    assert jvm == np_  # identical neighbor sets; only float tails differ


def test_ivf_topk_recall(spark, sf_small):
    emb = _emb(spark, sf_small)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(queries, emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Probing 4 of 16 cells scans ~25% of the corpus; measured 0.55 at
    # sf0.001 — 0.35 is the regression floor.
    assert recall >= 0.35, f"ivf recall {recall} below contract"


def test_n_cells_for_sqrt_rule():
    """√n sizing with floor/cap clamps — the derived-parameter contract
    the registered IVF rows rely on (r13 VERDICT #7: fixed 16 cells made
    per-query cost linear in corpus size, measured exponent 0.64)."""
    from kusuma_metamorph_etl_spark.operators.similarity import n_cells_for

    assert n_cells_for(0) == 16
    assert n_cells_for(100) == 16        # floor
    assert n_cells_for(500) == 22
    assert n_cells_for(1_000_000) == 1000
    assert n_cells_for(10**12) == 65536  # cap
    assert n_cells_for(300, floor=4) == 17


def test_ivf_topk_derived_sizing_recall(spark, sf_small):
    """The registered-row configuration (n_centroids=None → √n cells,
    probe 6, one Lloyd pass) must hold the same 0.35 recall floor the
    `sim_ivf_topk_err` driver gate enforces."""
    emb = _emb(spark, sf_small)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            queries, emb, k=5, n_centroids=None, n_probe=6, refine_iters=1
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Measured 0.72 at sf0.01 / 0.45 at sf0.1 under derived sizing.
    assert recall >= 0.35, f"derived-sizing ivf recall {recall} below contract"


def test_cosine_pairs_threshold(spark, sf_small):
    pairs = similarity.cosine_pairs(_emb(spark, sf_small), threshold=0.3)
    rows = pairs.collect()
    assert rows, "corpus should contain correlated vectors"
    assert all(r["cosine"] >= 0.3 for r in rows)
    assert all(r["a"] < r["b"] for r in rows)


class TestPersistedIvf:
    @pytest.mark.slow
    def test_search_matches_inline_ivf_and_prunes(self, spark, sf_small, tmp_path):
        from kusuma_metamorph_etl_spark.operators.similarity import (
            ivf_search,
            ivf_topk,
            write_ivf_index,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") % 25 == 0)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, n_centroids=16)

        inline = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4).collect()
        }
        searched_df = ivf_search(spark, path, queries, k=5, n_probe=4)
        searched = {
            (r["query_id"], r["neighbor_id"]) for r in searched_df.collect()
        }
        assert searched == inline  # same index definition -> same answers

        # The corpus scan must partition-prune to the probed cells.
        plan = searched_df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


class TestQuantization:
    def test_roundtrip_error_bounded(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators.similarity import (
            dequantize_embeddings,
            quantize_embeddings,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").limit(100)
        q = quantize_embeddings(emb)
        back = dequantize_embeddings(q)
        joined = {
            r["vec_id"]: (r["orig"], r["deq"], r["scale"])
            for r in emb.select(
                "vec_id", F.col("embedding").alias("orig")
            )
            .join(
                back.select("vec_id", F.col("embedding").alias("deq")).join(
                    q.select("vec_id", "scale"), on="vec_id"
                ),
                on="vec_id",
            )
            .collect()
        }
        for orig, deq, scale in joined.values():
            # per-component error <= scale/2 (+eps for double noise)
            for o, d in zip(orig, deq):
                assert abs(float(o) - d) <= scale / 2 + 1e-9

    def test_int8_range_and_extremes(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators.similarity import (
            quantize_embeddings,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        q = quantize_embeddings(emb).collect()
        for r in q:
            assert all(-127 <= x <= 127 for x in r["qvec"])
            # the max-abs component maps to exactly +/-127
            assert max(abs(x) for x in r["qvec"]) == 127 or r["scale"] == 0.0

    def test_zero_vector(self, spark):
        from kusuma_metamorph_etl_spark.operators.similarity import (
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        [r] = quantize_embeddings(df).collect()
        assert r["qvec"] == [0, 0, 0] and r["scale"] == 0.0


def test_ivf_lloyd_refinement_improves_objective(spark, sf_small):
    """k-means refinement must not worsen (and in practice improves) the
    within-cell quantization objective (mean 1 - cosine to the assigned
    centroid) versus the raw stride seed."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.similarity import ivf_build

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    rows = emb.select("embedding").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def objective(centroids):
        c = np.array(centroids, dtype=np.float64)
        c_n = c / np.linalg.norm(c, axis=1, keepdims=True)
        sims = mat_n @ c_n.T
        return float(np.mean(1.0 - sims.max(axis=1)))

    seed = ivf_build(emb, n_centroids=8)
    refined = ivf_build(emb, n_centroids=8, refine_iters=3)
    assert len(refined) == len(seed)
    assert objective(refined) <= objective(seed) + 1e-9
    # Refinement actually moved centroids off the seed vectors.
    assert refined != seed


# ---------------------------------------------------------------- IVF k-means

def test_ivf_lloyd_refinement_matches_numpy_reference(spark):
    """refine_iters runs true distributed Lloyd: same init, same rounds,
    same centroids as a dense numpy implementation (cosine assignment,
    per-cell mean update, empty cells keep their centroid)."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.similarity import ivf_build

    rng = np.random.default_rng(9)
    # three separated blobs in 8-d
    blobs = np.concatenate(
        [rng.normal(loc=c, scale=0.05, size=(30, 8)) for c in (0.0, 1.0, -1.0)]
    )
    rows = [(i, [float(x) for x in blobs[i]]) for i in range(len(blobs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = np.array(ivf_build(df, n_centroids=3, refine_iters=4))

    # numpy reference with the IDENTICAL hash-order init (r9 seeding:
    # the 3 smallest xxhash64(id) rows; asking Spark for the hash keeps
    # the reference pinned to the engine's own seed rule)
    hash_order = (
        df.select("vec_id")
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(3)
        .collect()
    )
    init_ids = [r["vec_id"] for r in hash_order]
    cents = blobs[init_ids].astype(float)

    def cos(a, b):
        return (a @ b.T) / (
            np.linalg.norm(a, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :]
        )

    for _ in range(4):
        assign = cos(blobs, cents).argmax(axis=1)
        for c in range(3):
            members = blobs[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    assert np.allclose(got, cents, atol=1e-9), (got - cents)


def test_ivf_lloyd_tightens_cells_on_blobby_data(spark):
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.similarity import ivf_build

    rng = np.random.default_rng(10)
    # cosine-space blobs: three distinct DIRECTIONS (a blob at the origin
    # has random directions and no cosine cohesion to find)
    centers = rng.normal(size=(3, 8))
    centers = 2.0 * centers / np.linalg.norm(centers, axis=1)[:, None]
    blobs = np.concatenate(
        [rng.normal(loc=c, scale=0.05, size=(40, 8)) for c in centers]
    )
    # ids in blob order: the deterministic stride init (ids 0/40/80)
    # lands one seed per blob — k-means from a degenerate init is a
    # local-optimum property of k-means, not of this implementation
    rows = [(int(i), [float(x) for x in blobs[i]]) for i in range(len(blobs))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def cohesion(cents):
        c = np.array(cents)
        sims = (blobs @ c.T) / (
            np.linalg.norm(blobs, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :]
        )
        return sims.max(axis=1).mean()  # mean best-centroid cosine

    plain = cohesion(ivf_build(df, n_centroids=3, refine_iters=0))
    trained = cohesion(ivf_build(df, n_centroids=3, refine_iters=4))
    assert trained >= plain - 1e-12
    assert trained > 0.95  # blobs are tight; trained centroids must be too


def test_zero_norm_vectors_never_poison_topk(spark):
    """Regression (r8 review): a single all-zero embedding used to score
    cosine = NaN against every query, and NaN sorts ABOVE every real
    value under F.desc — so the zero vector became everyone's top-1
    neighbor in every scoring path.  Zero-norm rows must emit NULL (JVM)
    or be omitted (numpy) — never rank first."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        cosine_pairs,
        cosine_topk,
        cosine_topk_np,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (99, [0.0, 0.0]),  # the poison row
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for fn in (cosine_topk, cosine_topk_np):
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in fn(df, df, k=1).collect()
        }
        assert top1[1] == 2, (fn.__name__, top1)
        assert top1[2] == 1, (fn.__name__, top1)
        assert top1[3] != 99 or True  # 3's best real neighbor, never NaN-ranked
        assert all(v != 99 for q, v in top1.items() if q != 99), (
            fn.__name__,
            top1,
        )
    pairs = cosine_pairs(df, threshold=0.5).collect()
    assert all(99 not in (r["a"], r["b"]) for r in pairs)


def test_cosine_topk_np_empty_queries_and_string_ids(spark):
    """Regression (r8 review): zero query rows made np.array([]) 1-D and
    norm(axis=1) raised AxisError; string ids hit a hardcoded `long`
    Arrow schema."""
    from kusuma_metamorph_etl_spark.operators.similarity import cosine_topk_np

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    assert cosine_topk_np(empty, corpus, k=2).count() == 0

    s_corpus = spark.createDataFrame(
        [("doc:a", [1.0, 0.0]), ("doc:b", [0.9, 0.1]), ("doc:c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk_np(s_corpus, s_corpus, k=1).collect()
    }
    assert got["doc:a"] == "doc:b"


def test_group_centroids_hand_computed(spark):
    from kusuma_metamorph_etl_spark.operators.similarity import (
        group_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, "a", [1.0, 2.0, 3.0]),
            (2, "a", [3.0, 2.0, 1.0]),
            (3, "b", [10.0, 0.0, -10.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    out = {r["label"]: r for r in group_centroids(df, "label").collect()}
    assert out["a"]["centroid"] == [2.0, 2.0, 2.0]
    assert out["a"]["n_vectors"] == 2
    assert out["b"]["centroid"] == [10.0, 0.0, -10.0]
    assert out["b"]["n_vectors"] == 1
    # partition-invariant: same result under repartitioning
    again = {
        r["label"]: r
        for r in group_centroids(df.repartition(7), "label").collect()
    }
    assert {k: (v["centroid"], v["n_vectors"]) for k, v in out.items()} == {
        k: (v["centroid"], v["n_vectors"]) for k, v in again.items()
    }


def test_mmr_select_diversity_and_degenerations(spark):
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.similarity import mmr_select

    # NOTE the first pick must not equal the query direction: if it
    # does, sim-to-selected == relevance for every candidate and all
    # lam=0.5 MMR scores tie at exactly 0 (found writing this test).
    rows = [
        (1, [0.95, 0.30, 0.05]),
        (2, [0.95, 0.30, 0.05]),   # exact duplicate of 1
        (3, [0.10, 0.00, 0.99]),
        (4, [0.00, 1.00, 0.00]),
        (5, [0.70, 0.70, 0.10]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0]

    def reference(lam, k):
        ids = [r[0] for r in rows]
        v = np.array([r[1] for r in rows], float)
        u = v / np.linalg.norm(v, axis=1, keepdims=True)
        rel = u @ (np.array(q) / np.linalg.norm(q))
        order = sorted(range(len(ids)), key=lambda i: (-rel[i], ids[i]))
        pool_idx = order  # pool > n: everything stays
        chosen, max_sim = [], np.full(len(ids), -np.inf)
        remaining = set(pool_idx)
        for _ in range(k):
            best, best_key = None, None
            for i in pool_idx:  # pool order IS the tie-break order
                if i not in remaining:
                    continue
                pen = 0.0 if not chosen else max_sim[i]
                s = lam * rel[i] - (1 - lam) * pen
                if best is None or s > best_key + 1e-12:
                    best, best_key = i, s
            chosen.append(best)
            remaining.discard(best)
            max_sim = np.maximum(max_sim, u @ u[best])
        return [ids[i] for i in chosen]

    for lam in (1.0, 0.7, 0.5, 0.2):
        got = [
            r["vec_id"]
            for r in sorted(
                mmr_select(df, q, k=4, lam=lam, pool=10).collect(),
                key=lambda r: r["rank"],
            )
        ]
        assert got == reference(lam, 4), (lam, got, reference(lam, 4))

    # diversity demotes the exact duplicate: under pure relevance it is
    # rank 1 (right behind its twin); at lam=0.5 the k=2 budget goes to
    # a distinct direction instead.  (It CAN still appear later — once
    # every distinct candidate scores worse, a penalized duplicate is
    # the correct greedy pick; the first draft of this test asserted
    # "never selected" and the numpy reference disproved it.)
    assert reference(1.0, 2) == [1, 2]
    div2 = [
        r["vec_id"]
        for r in sorted(
            mmr_select(df, q, k=2, lam=0.5, pool=10).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert div2[0] == 1 and 2 not in div2
    # rank-0 score is lam * relevance
    r0 = next(
        r for r in mmr_select(df, q, k=1, lam=0.5, pool=10).collect()
    )
    assert abs(r0["mmr_score"] - 0.5 * r0["relevance"]) < 1e-6

    # bounded-driver contract: pool trims before the greedy loop
    trimmed = mmr_select(df, q, k=2, lam=0.5, pool=2).collect()
    assert {r["vec_id"] for r in trimmed} <= {1, 2}
    # empty corpus: empty frame with the right schema, no error
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = mmr_select(empty, q, k=3)
    assert out.count() == 0
    assert out.columns == ["rank", "vec_id", "relevance", "mmr_score"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lam"):
        mmr_select(df, q, lam=1.5)
    with _pytest.raises(ValueError, match="pool"):
        mmr_select(df, q, k=50, pool=10)


class TestProductQuantization:
    """PQ train/encode/ADC/rerank: codebook shapes, determinism, recall
    contracts, and the rerank-recovers-exact property."""

    def _fix(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        books = similarity.pq_train(emb, m=8, k=16, refine_iters=1)
        return similarity, emb, books

    def test_codebook_shape_and_encode_range(self, spark, sf_small):
        similarity, emb, books = self._fix(spark, sf_small)
        assert len(books) == 8 and all(len(b) == 16 for b in books)
        assert all(len(c) == 8 for b in books for c in b)  # 64/8 dims
        codes = similarity.pq_encode(emb, books)
        row = codes.first()
        assert len(row["pq_code"]) == 8
        mx = codes.select(
            F.max(F.array_max("pq_code")).alias("m"),
            F.min(F.array_min("pq_code")).alias("n"),
        ).first()
        assert 0 <= mx["n"] and mx["m"] <= 15

    def test_encode_partition_invariant(self, spark, sf_small):
        similarity, emb, books = self._fix(spark, sf_small)
        a = {
            r["vec_id"]: list(r["pq_code"])
            for r in similarity.pq_encode(emb, books).collect()
        }
        b = {
            r["vec_id"]: list(r["pq_code"])
            for r in similarity.pq_encode(emb.repartition(7), books).collect()
        }
        assert a == b

    def test_adc_recall_bound(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") % 25 == 0)
        books = similarity.pq_train(emb, m=16, k=64, refine_iters=2)
        codes = similarity.pq_encode(emb, books)
        approx = similarity.pq_topk(queries, codes, books, k=5)
        exact = similarity.cosine_topk(queries, emb, k=5)
        e = exact.select("query_id", "neighbor_id")
        hit = e.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        assert hit / e.count() >= 0.4  # measured 0.59 at sf0.01

    def test_rerank_recovers_exact_topk(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") % 25 == 0)
        books = similarity.pq_train(emb, m=16, k=64, refine_iters=2)
        codes = similarity.pq_encode(emb, books)
        rer = similarity.pq_topk_rerank(
            queries, codes, emb, books, k=5, shortlist=60
        )
        exact = similarity.cosine_topk(queries, emb, k=5)
        e = exact.select("query_id", "neighbor_id")
        hit = e.join(
            rer.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        assert hit / e.count() >= 0.9  # measured 1.0 at sf0.01 (slist 50)

    def test_bad_subspace_split_and_empty_inputs(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        with pytest.raises(ValueError, match="divisible"):
            similarity.pq_train(emb, m=7, k=8)
        assert similarity.pq_train(emb.filter(F.lit(False)), m=8, k=16) == []
        books = similarity.pq_train(emb, m=8, k=16, refine_iters=0)
        codes = similarity.pq_encode(emb, books)
        with pytest.raises(ValueError, match="empty query"):
            similarity.pq_topk(emb.filter(F.lit(False)), codes, books, k=3)


def test_pq_string_ids(spark):
    """PQ keeps the id type: 20 vectors under zero-padded string ids
    (lexical order = numeric order, so ties break alike) encode to the
    same codes and retrieve the same neighbours as under long ids."""
    import random

    rng = random.Random(7)
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(8)] for _ in range(20)]
    longs = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    strs = spark.createDataFrame(
        [(f"v{i:02d}", v) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>",
    )
    books = similarity.pq_train(longs, m=4, k=4, refine_iters=1)
    codes_l = similarity.pq_encode(longs, books)
    codes_s = similarity.pq_encode(strs, books)
    assert {
        f"v{r['vec_id']:02d}": list(r["pq_code"]) for r in codes_l.collect()
    } == {r["vec_id"]: list(r["pq_code"]) for r in codes_s.collect()}

    q_l = longs.filter(F.col("vec_id") % 5 == 0)
    q_s = strs.filter(F.col("vec_id").isin(["v00", "v05", "v10", "v15"]))
    for run in (
        lambda q, c, corpus: similarity.pq_topk(q, c, books, k=3),
        lambda q, c, corpus: similarity.pq_topk_rerank(
            q, c, corpus, books, k=3, shortlist=8
        ),
    ):
        got_l = {
            (f"v{r[0]:02d}", f"v{r[1]:02d}", round(r[2], 9))
            for r in run(q_l, codes_l, longs).collect()
        }
        got_s = {
            (r[0], r[1], round(r[2], 9)) for r in run(q_s, codes_s, strs).collect()
        }
        assert got_s == got_l and len(got_s) == 12


def test_mmr_null_embedding_rows_dropped(spark):
    from kusuma_metamorph_etl_spark.operators.similarity import mmr_select

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = mmr_select(df, [1.0, 0.0], k=3, lam=0.5, pool=10)
    ids = [r.vec_id for r in got.collect()]
    assert 2 not in ids and set(ids) == {1, 3}


def test_pq_topk_partition_invariant_under_score_ties(spark):
    """Quantized codes make exact ADC-score ties common (distinct
    vectors, same codewords); the partition-local selection must break
    them like the global (score desc, id asc) window or the result
    varies with partitioning."""
    from kusuma_metamorph_etl_spark.operators import similarity

    # 40 vectors in 4 groups of DUPLICATE vectors -> guaranteed ties
    rows = [
        (i, [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2), float(i % 4 == 3)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_train(df, m=2, k=4, refine_iters=1)
    queries = df.filter(F.col("vec_id") == 0)
    a = [
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(
            queries, similarity.pq_encode(df, books), books, k=5
        ).collect()
    ]
    b = [
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(
            queries,
            similarity.pq_encode(df.repartition(13), books),
            books,
            k=5,
        ).collect()
    ]
    assert sorted(a) == sorted(b)
    assert len(a) == 5


def test_incremental_topk_update_equals_full_recompute(spark):
    """r13 (EDBT'20 maintenance pattern): cached-top-k ∪ fresh-batch
    scores re-taken at k must EQUAL the full recompute over the union —
    exercised on tie-adversarial data (duplicate vectors across base
    and batch force cosine ties at the k boundary, so the total-order
    comparator is what keeps the two paths identical)."""
    import random

    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.similarity import (
        cosine_topk,
        incremental_topk_update,
    )

    rng = random.Random(7)
    # 12 distinct directions reused across 60 vectors -> massive ties
    dirs = [
        [rng.uniform(-1, 1) for _ in range(8)] for _ in range(12)
    ]
    rows = [(i, dirs[i % 12]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = emb.filter(F.col("vec_id") < 40)
    batch = emb.filter(F.col("vec_id") >= 40)
    queries = emb.filter(F.col("vec_id") % 10 == 0).filter(
        F.col("vec_id") < 40
    )
    cached = cosine_topk(queries, base, k=4)
    incr = incremental_topk_update(cached, queries, batch, k=4)
    full = cosine_topk(queries, emb, k=4)
    got = {tuple(r) for r in incr.select("query_id", "neighbor_id").collect()}
    want = {tuple(r) for r in full.select("query_id", "neighbor_id").collect()}
    assert got == want and len(want) == 4 * queries.count()


class TestRandomProjection:
    """Johnson–Lindenstrauss random projection: determinism, distortion
    bounds that tighten with the output width, and planted-cluster
    recall (the near-dup-after-projection use; the raw synthetic corpus
    has near-orthogonal vectors whose tiny neighbor margins no k=16
    projection can preserve — structure, not the operator, decides
    recall there)."""

    def test_matrix_deterministic_and_scaled(self):
        import math

        from kusuma_metamorph_etl_spark.operators.similarity import (
            projection_matrix,
        )

        a = projection_matrix(16, 64, seed=42)
        b = projection_matrix(16, 64, seed=42)
        assert a == b
        assert len(a) == 16 and len(a[0]) == 64
        # 1/sqrt(k) scaling: components bounded by it.
        bound = 1.0 / math.sqrt(16)
        assert all(abs(c) <= bound for row in a for c in row)
        assert projection_matrix(16, 64, seed=7) != a

    def test_distortion_tightens_with_width(self, spark, sf_small):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.similarity import (
            projection_matrix,
        )

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        V = np.stack([
            np.array(r["embedding"], dtype=np.float64)
            for r in emb.limit(60).collect()
        ])

        def mean_dcos(k):
            M = np.array(projection_matrix(k, V.shape[1], 42))
            P = V @ M.T

            def cos(A):
                n = np.linalg.norm(A, axis=1, keepdims=True)
                n[n == 0] = 1
                X = A / n
                return X @ X.T

            d = np.abs(cos(V) - cos(P))
            return d[np.triu_indices(len(V), 1)].mean()

        d8, d16, d32 = mean_dcos(8), mean_dcos(16), mean_dcos(32)
        assert d32 < d16 < d8  # JL error ~ 1/sqrt(k)
        assert d16 < 0.3  # measured ~0.20 on this corpus

    def test_planted_cluster_recall_after_projection(self, spark):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.similarity import (
            random_project,
        )

        # 12 well-separated cluster centers, 5 near-copies each
        # (cosine ~0.98 within, ~orthogonal across): after 64->16
        # projection, a member's top-4 must still be its own cluster.
        rng = np.random.RandomState(7)
        centers = rng.randn(12, 64)
        rows = []
        for ci, c in enumerate(centers):
            for j in range(5):
                v = c + 0.08 * rng.randn(64)
                rows.append((ci * 5 + j, ci, [float(x) for x in v]))
        df = spark.createDataFrame(
            rows, "vec_id long, cluster long, embedding array<double>"
        )
        proj = {
            r["vec_id"]: (r["cluster"], np.array(r["rp"]))
            for r in random_project(df, out_dim=16).collect()
        }
        ids = sorted(proj)
        P = np.stack([proj[i][1] for i in ids])
        n = np.linalg.norm(P, axis=1, keepdims=True)
        C = (P / n) @ (P / n).T
        hits = total = 0
        for idx, i in enumerate(ids):
            sims = C[idx].copy()
            sims[idx] = -2
            top4 = np.argsort(-sims)[:4]
            hits += sum(proj[ids[t]][0] == proj[i][0] for t in top4)
            total += 4
        assert hits / total >= 0.95


def test_maxsim_hand_computed(spark):
    """MaxSim on a hand-checkable token layout: query tokens along the
    axes; doc A holds both axes (score 2.0), doc B only one (1.0 + the
    0.0 max against its orthogonal token = 1.0 total), doc C anti-
    aligned on both axes — but each query token's MAX in C is the 0.0
    orthogonal, so MaxSim reads 0.0, not -2.0 (per-token max forgives
    anti-alignment; that's the late-interaction semantics)."""
    from kusuma_metamorph_etl_spark.operators.similarity import maxsim_topk

    docs = spark.createDataFrame(
        [
            ("A", [1.0, 0.0]), ("A", [0.0, 1.0]),
            ("B", [1.0, 0.0]), ("B", [0.0, -1.0]),
            ("C", [-1.0, 0.0]), ("C", [0.0, -1.0]),
        ],
        "dkey string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, 1, [1.0, 0.0]), (0, 2, [0.0, 1.0])],
        "qkey long, vec_id long, embedding array<double>",
    )
    got = {
        r["dkey"]: (r["maxsim"], r["rank"], r["n_query_tokens"])
        for r in maxsim_topk(docs, queries, k=3).collect()
    }
    assert got["A"] == (2.0, 1, 2)
    assert got["B"] == (1.0, 2, 2)  # q2's best in B is 0.0 (orthogonal)
    assert got["C"] == (0.0, 3, 2)
    # Partition invariance of the decimal-sum scoring.
    got13 = {
        r["dkey"]: r["maxsim"]
        for r in maxsim_topk(docs.repartition(13), queries, k=3).collect()
    }
    assert got13 == {k: v[0] for k, v in got.items()}


def test_maxsim_candidates_restrict_scoring(spark):
    """maxsim_topk(candidates=...) scores ONLY the listed (qkey, dkey)
    pairs — a doc outside the candidate list cannot appear even when it
    would win — and on listed pairs the scores are value-identical to
    the unrestricted run (the re-rank is exact, not approximate)."""
    from kusuma_metamorph_etl_spark.operators.similarity import maxsim_topk

    docs = spark.createDataFrame(
        [
            ("A", [1.0, 0.0]), ("A", [0.0, 1.0]),
            ("B", [1.0, 0.0]), ("B", [0.0, -1.0]),
            ("C", [-1.0, 0.0]), ("C", [0.0, -1.0]),
        ],
        "dkey string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, 1, [1.0, 0.0]), (0, 2, [0.0, 1.0])],
        "qkey long, vec_id long, embedding array<double>",
    )
    cands = spark.createDataFrame(
        [(0, "B"), (0, "C")], "qkey long, dkey string"
    )
    got = {
        r["dkey"]: (r["maxsim"], r["rank"])
        for r in maxsim_topk(docs, queries, k=3, candidates=cands).collect()
    }
    # A (the true winner, score 2.0) is NOT a candidate -> absent; B and
    # C keep their exact unrestricted scores and re-rank among themselves
    assert "A" not in got
    assert got["B"] == (1.0, 1)
    assert got["C"] == (0.0, 2)


def test_maxsim_ann_degenerates_to_exact(spark, sf_small):
    """With every cell probed and the shortlist covering the whole doc
    set, the ANN path must equal the exact row bit-for-bit — the same
    full-coverage degeneracy contract the IVF/PQ rows pin."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        maxsim_ann_topk,
        maxsim_topk,
        n_cells_for,
    )
    from kusuma_metamorph_etl_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings")
    docs = emb.select(
        F.expr("vec_id div 8").alias("dkey"), "vec_id", "embedding"
    )
    queries = docs.filter(F.col("dkey") % 20 == 0).select(
        F.col("dkey").alias("qkey"), "vec_id", "embedding"
    )
    n_docs = docs.select("dkey").distinct().count()
    exact = sorted(
        (r["qkey"], r["rank"], r["dkey"], r["maxsim"])
        for r in maxsim_topk(docs, queries, k=3).collect()
    )
    ann = sorted(
        (r["qkey"], r["rank"], r["dkey"], r["maxsim"])
        for r in maxsim_ann_topk(
            docs,
            queries,
            k=3,
            n_candidates=n_docs,
            n_probe=n_cells_for(n_docs),
            refine_iters=1,
        ).collect()
    )
    assert ann == exact


def test_maxsim_ann_recall_contract(spark, sf_small, sf_medium):
    """The registered DERIVED config (r17 — reproduces (probe=10, 35
    candidates) at these fixture sizes) clears the sim_maxsim_ann_err
    gate bound (doc-grain recall >= 0.7) at both pytest scales —
    measured 0.917 (sf0.001) / 0.917 (sf0.01) at registration time;
    deterministic, so a drop means the IVF assignment, the shortlist
    join, or the parameter derivation regressed, not noise."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        maxsim_ann_topk,
        maxsim_topk,
    )
    from kusuma_metamorph_etl_spark.sources.catalog import load_table

    for sf_dir in (sf_small, sf_medium):
        emb = load_table(spark, sf_dir, "embeddings")
        docs = emb.select(
            F.expr("vec_id div 8").alias("dkey"), "vec_id", "embedding"
        )
        queries = docs.filter(F.col("dkey") % 20 == 0).select(
            F.col("dkey").alias("qkey"), "vec_id", "embedding"
        )
        exact = maxsim_topk(docs, queries, k=3).select("qkey", "dkey")
        ann = maxsim_ann_topk(docs, queries, k=3, refine_iters=1).select(
            "qkey", "dkey"
        )
        n_exact = exact.count()
        n_hit = exact.join(ann, ["qkey", "dkey"], "left_semi").count()
        assert n_exact > 0
        assert n_hit >= 0.7 * n_exact, (sf_dir, n_hit, n_exact)


def test_maxsim_ann_string_keys_and_key_equal_queries(spark):
    """r17: doc and query keys stay in their own namespaces end to end
    (ivf_topk exclude_self=False), so (a) STRING keys work — the r16
    arithmetic 2^40 offset that forced numeric keys (and could collide
    or overflow on 64-bit hashed keys, ADVICE r16) is gone — and (b) a
    query whose key EQUALS its source doc's key still retrieves that
    doc: an id-equality self-match filter would have silently dropped
    the best answer."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        maxsim_ann_topk,
    )

    docs = spark.createDataFrame(
        [("A", 1, [1.0, 0.0]), ("B", 2, [0.0, 1.0]), ("C", 3, [1.0, 1.0])],
        "dkey string, vec_id long, embedding array<double>",
    )
    # query "A" is doc A's own token set — the key-collision shape
    queries = spark.createDataFrame(
        [("A", 1, [1.0, 0.0])],
        "qkey string, vec_id long, embedding array<double>",
    )
    got = {
        r["rank"]: r["dkey"]
        for r in maxsim_ann_topk(
            docs, queries, k=1, n_candidates=3, n_probe=16, n_centroids=16
        ).collect()
    }
    assert got == {1: "A"}


def test_maxsim_derived_parameters(spark):
    """maxsim_probe_for holds the probed-cell fraction (5/8, the
    16-cell-floor calibration) and maxsim_candidates_for grows the
    shortlist as sqrt(n_docs) from the 35 @ sf0.01 calibration — the
    r14 derived-parameter rule applied to the r16 fixed (10, 35)."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        maxsim_candidates_for,
        maxsim_probe_for,
        n_cells_for,
    )

    # the sf0.001/sf0.01 fixture (62 docs) reproduces the r16 setting
    assert n_cells_for(62) == 16
    assert maxsim_probe_for(16) == 10
    assert maxsim_candidates_for(62) == 35
    # fraction holds as cells grow; shortlist grows as sqrt(n)
    assert maxsim_probe_for(50) == 32  # sf1.0: 2500 docs -> 50 cells
    assert maxsim_candidates_for(250) == 70  # sf0.1
    assert maxsim_candidates_for(2500) == 220  # sf1.0
    # floors/caps: tiny corpora never under-probe; broadcast list bounded
    assert maxsim_probe_for(4) == 4
    assert maxsim_probe_for(0) == 10
    assert maxsim_candidates_for(0) == 35
    assert maxsim_candidates_for(10**9) == 4096


def test_maxsim_ann_derived_recall_perfect_on_clustered_corpus(spark):
    """The measured 0.731 sf1.0 recall floor comes from the probe
    corpus's directionally-i.i.d. rotated-replica vectors (pooled cosine
    of the maxsim-rank-2/3 docs is weakly informative among random
    distractors — BENCH_SCALE.json r17 attribution).  On CLUSTERED
    embeddings — the realistic shape ANN is built for — the derived
    shortlist must recall the exact top-3 PERFECTLY: 500 docs in 5
    tight clusters, every query's true top-3 are same-cluster docs
    whose pooled centroids dominate the shortlist ranking."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        maxsim_ann_topk,
        maxsim_topk,
    )

    rows = []
    for d in range(500):
        c = d % 5
        for t in range(4):
            vec = [0.0] * 8
            vec[c] = 10.0
            vec[5] = 0.001 * (d % 100)
            vec[6] = 0.0001 * t
            rows.append((d, d * 4 + t, vec))
    docs = spark.createDataFrame(
        rows, "dkey long, vec_id long, embedding array<double>"
    )
    queries = docs.filter(F.col("dkey") % 100 == 0).select(
        F.col("dkey").alias("qkey"), "vec_id", "embedding"
    )
    exact = {
        (r["qkey"], r["dkey"])
        for r in maxsim_topk(docs, queries, k=3).collect()
    }
    ann = {
        (r["qkey"], r["dkey"])
        for r in maxsim_ann_topk(docs, queries, k=3, refine_iters=1).collect()
    }
    assert exact  # 5 queries x 3
    assert exact == ann


def test_ivf_and_maxsim_ann_empty_corpus_returns_empty(spark):
    """An EMPTY corpus must yield an empty result, not a baffling
    VOID-typed AnalysisException from the plan-literal cell ranking
    (r17 edge sweep): zero docs seed zero IVF centroids, and 'no
    neighbors' is the correct answer for every query."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        ivf_topk,
        maxsim_ann_topk,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = ivf_topk(queries, empty, k=3)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cosine",
    ]
    docs = spark.createDataFrame(
        [], "dkey long, vec_id long, embedding array<double>"
    )
    qtok = spark.createDataFrame(
        [(1, 1, [1.0, 0.0])], "qkey long, vec_id long, embedding array<double>"
    )
    assert maxsim_ann_topk(docs, qtok, k=3).collect() == []


def test_maxsim_ann_checkpoint_is_pure_strategy(spark, sf_small):
    """The r18 eager localCheckpoint of the pooled doc frame is a pure
    execution-strategy change: maxsim_ann_topk must be row-identical to
    the same pipeline composed by hand WITHOUT the checkpoint
    (group_centroids → ivf_topk shortlist → candidate-restricted
    maxsim_topk re-rank, all lazy)."""
    from kusuma_metamorph_etl_spark.operators.similarity import (
        group_centroids,
        ivf_topk,
        maxsim_ann_topk,
        maxsim_topk,
    )
    from kusuma_metamorph_etl_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings")
    docs = emb.select(
        F.expr("vec_id div 8").alias("dkey"), "vec_id", "embedding"
    )
    queries = docs.filter(F.col("dkey") % 20 == 0).select(
        F.col("dkey").alias("qkey"), "vec_id", "embedding"
    )
    kw = dict(n_candidates=10, n_probe=6)
    base = sorted(
        map(tuple, maxsim_ann_topk(docs, queries, k=3, refine_iters=1, **kw).collect())
    )

    dcent = group_centroids(docs, "dkey").select(
        F.col("dkey").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    qcent = group_centroids(queries, "qkey").select(
        F.col("qkey").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    cands = ivf_topk(
        qcent,
        dcent,
        k=kw["n_candidates"],
        n_centroids=None,
        n_probe=kw["n_probe"],
        refine_iters=1,
        exclude_self=False,
    ).select(F.col("query_id").alias("qkey"), F.col("neighbor_id").alias("dkey"))
    lazy = sorted(
        map(
            tuple,
            maxsim_topk(docs, queries, k=3, candidates=cands).collect(),
        )
    )
    assert base == lazy
