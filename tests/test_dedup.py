"""Dedup operator tests: exact dedup semantics, the approximate paths
(MinHash-LSH, SimHash) validated against the exact Jaccard ground truth —
the recall contract promised in queries/ext.py docstrings."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import dedup


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_exact_dedup_removes_content_duplicates(spark, sf_small):
    docs = _docs(spark, sf_small)
    # Inject exact duplicates under fresh ids.
    dupes = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dupes = docs.unionByName(dupes)
    kept = dedup.exact_dedup(with_dupes)
    # Every injected copy collapses onto its (lower-id) original.
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0
    # No two surviving docs share content.
    n_distinct = kept.select(F.md5("text")).distinct().count()
    assert kept.count() == n_distinct


def test_exact_dedup_survivor_by_keeps_best_copy(spark):
    # Three copies of one text with different quality scores; two copies
    # of another tied on quality (lowest id must break the tie); one
    # singleton.  The max-quality copy survives, not the lowest id.
    rows = [
        (1, "alpha body", 0.2),
        (2, "alpha body", 0.9),  # best copy, NOT lowest id
        (3, "alpha body", 0.5),
        (10, "beta body", 0.7),
        (11, "beta body", 0.7),  # tie -> lowest id (10) wins
        (20, "gamma body", 0.1),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "q"])
    kept = sorted(
        r["doc_id"]
        for r in dedup.exact_dedup(df, survivor_by="q").collect()
    )
    assert kept == [2, 10, 20]
    # Partition-layout invariance of the arg-max (struct-min) rule.
    kept13 = sorted(
        r["doc_id"]
        for r in dedup.exact_dedup(df.repartition(13), survivor_by="q").collect()
    )
    assert kept13 == kept


def test_exact_dedup_survivor_by_null_scores_lose(spark):
    # NULLS-LAST semantics (r16 ADVICE): a NULL quality must lose to any
    # scored copy — without the struct null flag, Spark's struct
    # ordering sorts the NULL field FIRST and the unscored row would
    # win.  An all-NULL cluster falls back to lowest id.
    rows = [
        (1, "alpha body", None),  # unscored copy must NOT survive
        (2, "alpha body", 0.1),
        (10, "beta body", None),  # all-NULL cluster -> lowest id
        (11, "beta body", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    kept = sorted(
        r["doc_id"] for r in dedup.exact_dedup(df, survivor_by="q").collect()
    )
    assert kept == [2, 10]


def test_cluster_representatives_survivor_by_null_scores_lose(spark):
    from kusuma_metamorph_etl_spark.operators.graph import (
        cluster_representatives,
    )

    # Same NULLS-LAST contract transitively: in component {1,2,3} the
    # only scored member (3) survives even though 1 is the min id and 2
    # is unscored; the all-NULL component {7,8} falls back to min id.
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, 0.2), (7, None), (8, None)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["a", "b"])
    kept = sorted(
        r["doc_id"]
        for r in cluster_representatives(docs, pairs, survivor_by="q").collect()
    )
    assert kept == [3, 7]


def test_cluster_representatives_survivor_by(spark):
    from kusuma_metamorph_etl_spark.operators.graph import (
        cluster_representatives,
    )

    # Component {1,2,3} via edges 1-2, 2-3 (transitive); component {7,8};
    # 50 untouched.  Quality picks 3 (not min id 1) and ties in {7,8}
    # fall to 7.
    docs = spark.createDataFrame(
        [(1, 0.3), (2, 0.5), (3, 0.9), (7, 0.4), (8, 0.4), (50, 0.0)],
        ["doc_id", "q"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["a", "b"])
    kept = sorted(
        r["doc_id"]
        for r in cluster_representatives(docs, pairs, survivor_by="q").collect()
    )
    assert kept == [3, 7, 50]
    # Default rule unchanged: lowest id per component.
    kept_min = sorted(
        r["doc_id"] for r in cluster_representatives(docs, pairs).collect()
    )
    assert kept_min == [1, 7, 50]


def test_word_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, "")], ["doc_id", "text"]
    )
    out = df.select(
        "doc_id", F.size(dedup.word_shingles(F.col("text"), n=3)).alias("n")
    ).collect()
    by_id = {r["doc_id"]: r["n"] for r in out}
    assert by_id[1] == 0  # fewer tokens than n → empty, not an error
    assert by_id[2] == 1
    assert by_id[3] == 0


def test_minhash_lsh_recall_against_exact(spark, sf_small):
    docs = _docs(spark, sf_small)
    exact = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()
    }
    # Precision is 1.0 by construction (candidates verified exactly)…
    assert approx <= exact
    # …and banding recall on strong pairs must be high.
    assert exact, "test corpus must contain near-duplicate pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall} below contract"


def test_simhash_finds_injected_near_duplicates(spark, sf_small):
    docs = _docs(spark, sf_small)
    # An exact copy has Hamming distance 0 — always within any threshold.
    copies = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_copies = docs.unionByName(copies)
    pairs = dedup.simhash_near_dups(with_copies, bits=48, max_hamming=3)
    found = {
        (r["a"], r["b"])
        for r in pairs.filter(F.col("b") >= 1_000_000).collect()
    }
    expected = {
        (r["doc_id"], r["doc_id"] + 1_000_000) for r in docs.limit(3).collect()
    }
    assert expected <= found


def test_simhash_pair_symmetry_and_bounds(spark, sf_small):
    pairs = dedup.simhash_near_dups(_docs(spark, sf_small), bits=48, max_hamming=3)
    rows = pairs.collect()
    assert all(r["a"] < r["b"] for r in rows)
    assert all(0 <= r["hamming"] <= 3 for r in rows)


def test_containment_catches_doc_inside_doc(spark):
    """A short doc quoted verbatim inside a long doc: Jaccard near zero,
    containment 1.0 — the asymmetric detector's whole point."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, f"{filler} {short} {filler}"), (3, "unrelated text entirely here today")],
        ["doc_id", "text"],
    )
    cont = {
        (r["a"], r["b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.8).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    assert not any(3 in p for p in cont)
    jac = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(df, threshold=0.2).collect()
    }
    assert (1, 2) not in jac  # Jaccard misses the subset duplication


# ------------------------------------------------- embedding near-dup

def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_embedding_dedup_matches_numpy_ground_truth(spark, sf_small):
    """A row is dropped iff some lower-id row has cosine ≥ τ with it."""
    import numpy as np

    emb = _emb(spark, sf_small)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)[order]
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    tau = 0.3
    expected = {
        int(ids[j])
        for j in range(len(ids))
        if not any(sims[i, j] >= tau for i in range(j))
    }

    got = {r.vec_id for r in dedup.embedding_dedup(emb, threshold=tau).collect()}
    # Float-summation order differs between the numpy matmul and the Spark
    # fold; pairs landing exactly on τ may flip.  Allow only such boundary
    # disagreements.
    sym_diff = got ^ expected
    assert not sym_diff, f"survivor sets differ: {sorted(sym_diff)[:10]}"


def test_embedding_dedup_lsh_is_superset_with_recall(spark, sf_small):
    """LSH blocking can only MISS pairs, so its survivors are a superset of
    the exact survivors; the dropped set keeps decent recall."""
    emb = _emb(spark, sf_small)
    exact = {r.vec_id for r in dedup.embedding_dedup(emb, threshold=0.3).collect()}
    lsh = {
        r.vec_id
        for r in dedup.embedding_dedup(emb, threshold=0.3, prefilter="lsh").collect()
    }
    assert lsh >= exact
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    dropped_exact = all_ids - exact
    dropped_lsh = all_ids - lsh
    if dropped_exact:
        recall = len(dropped_lsh & dropped_exact) / len(dropped_exact)
        assert recall >= 0.5, recall


def test_embedding_lsh_pairs_preserves_string_id_type(spark, sf_small):
    """The mapInPandas verify schema derives the id type from the input —
    string doc ids must come back as strings, not coerced bigints."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_small).withColumn(
        "vec_id", F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
    )
    pairs = dedup.embedding_lsh_pairs(emb, threshold=0.3)
    schema = dict((f.name, f.dataType.simpleString()) for f in pairs.schema.fields)
    assert schema == {"a": "string", "b": "string", "cosine": "double"}
    rows = pairs.limit(5).collect()
    assert all(r.a.startswith("doc-") and r.b.startswith("doc-") for r in rows)


class TestDecontamination:
    def test_planted_overlap_flagged(self, spark):
        from kusuma_metamorph_etl_spark.operators.dedup import (
            decontaminate,
            ngram_contamination,
        )

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog tonight")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # contains a verbatim 13-token window from the benchmark? no —
                # 5-gram rule here: shares "quick brown fox jumps over"
                (1, "she saw the Quick Brown fox JUMPS over and laughed"),
                (2, "completely unrelated text about spark physical plans"),
                (3, "quick brown dogs do not jump over anything fast"),
            ],
            "doc_id long, text string",
        )
        hits = {
            r["doc_id"]
            for r in ngram_contamination(corpus, bench, n=5).collect()
        }
        assert hits == {1}  # case-insensitive verbatim 5-gram collision
        clean = {r["doc_id"] for r in decontaminate(corpus, bench, n=5).collect()}
        assert clean == {2, 3}

    def test_hashed_and_string_grams_agree(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators.dedup import ngram_contamination

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        corpus = docs.filter(F.col("doc_id") % 20 != 0)
        bench = docs.filter(F.col("doc_id") % 20 == 0)
        a = {r["doc_id"] for r in ngram_contamination(corpus, bench, n=5, hash_grams=True).collect()}
        b = {r["doc_id"] for r in ngram_contamination(corpus, bench, n=5, hash_grams=False).collect()}
        assert a == b

    def test_short_docs_never_contaminate(self, spark):
        from kusuma_metamorph_etl_spark.operators.dedup import ngram_contamination

        bench = spark.createDataFrame([(1, "too few words")], "doc_id long, text string")
        corpus = spark.createDataFrame([(2, "too few words")], "doc_id long, text string")
        assert ngram_contamination(corpus, bench, n=5).count() == 0


class TestSubstringPairs:
    """Exact substring-level dedup (Lee et al. style): planted-paragraph
    recall at 100%, zero false pairs, maximal-extension offsets."""

    PARA = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "gray geese graze in the quiet meadow beside the old stone mill "
        "and nobody notices the slow river turning the wheel at dawn "
        "every single day of the long wet autumn season"
    )  # 229 chars, vocabulary disjoint from the fillers below

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_paragraph_found_with_exact_span(self, spark):
        filler_a = "AAAA BBBB CCCC DDDD " * 10  # 200 chars
        filler_b = "WWWW XXXX YYYY ZZZZ " * 15  # 300 chars
        docs = self._docs(
            spark,
            [
                (1, filler_a + self.PARA + " EEEE FFFF"),
                (2, filler_b + self.PARA + " GGGG HHHH"),
                (3, "IIII JJJJ KKKK LLLL " * 20),
            ],
        )
        got = dedup.substring_pairs(docs, min_len=64).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["a"], r["b"]) == (1, 2)
        # maximal extension: the paragraph plus BOTH shared boundary
        # spaces (each filler ends with ' ', and ' ' follows the
        # paragraph on both sides) — extension must find the true max
        assert r["a_start"] == len(filler_a) - 1
        assert r["b_start"] == len(filler_b) - 1
        assert r["length"] == len(self.PARA) + 2

    def test_no_false_pairs_on_disjoint_docs(self, spark):
        docs = self._docs(
            spark,
            [
                (1, "alpha beta gamma delta " * 20),
                (2, "epsilon zeta etaa theta " * 20),
                (3, "iotaa kappa lambda muuu " * 20),
            ],
        )
        assert dedup.substring_pairs(docs, min_len=64).count() == 0

    def test_boundary_exact_min_len(self, spark):
        # fillers end/start with DISTINCT chars so the shared span is
        # exactly the planted run — no accidental boundary extension
        shared = "x" * 64
        docs = self._docs(
            spark,
            [
                (1, "A" * 80 + shared + "C" * 10),
                (2, "B" * 80 + shared + "D" * 10),
            ],
        )
        got = dedup.substring_pairs(docs, min_len=64).collect()
        assert len(got) == 1 and got[0]["length"] == 64

        short = "y" * 63
        docs2 = self._docs(
            spark,
            [
                (1, "A" * 80 + short + "C" * 10),
                (2, "B" * 80 + short + "D" * 10),
            ],
        )
        assert dedup.substring_pairs(docs2, min_len=64).count() == 0

    def test_corpus_spans_all_verify_and_planted_copy_caught(
        self, spark, sf_small
    ):
        """Over the real corpus + one planted full copy: every emitted
        span must satisfy literal substring equality (exactness), and the
        planted pair must surface with a full-document span."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
            "doc_id", "text"
        )
        src = docs.orderBy("doc_id").limit(1)
        copy = src.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        corpus = docs.unionByName(copy)
        pairs = dedup.substring_pairs(corpus, min_len=64)
        with_texts = (
            pairs.join(
                corpus.select(F.col("doc_id").alias("a"), F.col("text").alias("ta")),
                on="a",
            )
            .join(
                corpus.select(F.col("doc_id").alias("b"), F.col("text").alias("tb")),
                on="b",
            )
        )
        bad = with_texts.filter(
            F.expr("substring(ta, a_start + 1, length)")
            != F.expr("substring(tb, b_start + 1, length)")
        )
        assert bad.count() == 0
        src_row = src.collect()[0]
        planted = pairs.filter(
            (F.col("a") == src_row["doc_id"])
            & (F.col("b") == src_row["doc_id"] + 1_000_000)
        ).collect()
        assert planted and max(r["length"] for r in planted) == len(
            src_row["text"]
        )

    @pytest.mark.slow
    def test_span_removal_reaches_fixpoint(self, spark):
        """Removal keeps the span only in the lowest-id doc of each
        cluster; re-running the pair search on the cleaned corpus finds
        nothing — the Lee et al. removal semantics end-to-end."""
        filler = [
            "AAAA BBBB CCCC DDDD " * 10,
            "WWWW XXXX YYYY ZZZZ " * 12,
            "IIII JJJJ KKKK LLLL " * 14,
        ]
        docs = self._docs(
            spark,
            [
                (1, filler[0] + self.PARA + " EEEE"),
                (2, filler[1] + self.PARA + " GGGG"),
                (3, filler[2] + self.PARA + " MMMM"),
            ],
        )
        pairs = dedup.substring_pairs(docs, min_len=64)
        cleaned = dedup.remove_substring_spans(docs, pairs)
        rows = {r["doc_id"]: r for r in cleaned.collect()}
        assert self.PARA in rows[1]["text"]  # lowest id keeps the copy
        assert self.PARA not in rows[2]["text"]
        assert self.PARA not in rows[3]["text"]
        assert rows[1]["n_spans_removed"] == 0 and rows[1]["chars_removed"] == 0
        assert rows[2]["n_spans_removed"] == 1
        assert rows[2]["chars_removed"] >= len(self.PARA)
        # fixpoint: nothing shared >= min_len remains
        again = cleaned.select("doc_id", "text")
        assert dedup.substring_pairs(again, min_len=64).count() == 0

    @pytest.mark.slow
    def test_span_removal_merges_overlaps(self, spark):
        """Two pairs claiming intersecting ranges of one doc must merge
        before cutting — naive sequential cuts would corrupt offsets."""
        core = "qq ww ee rr tt yy uu ii oo pp " * 4  # 120 chars
        left_ext = "aa ss dd ff gg hh jj kk ll zz " * 3 + core  # 90 + core
        right_ext = core + "xx cc vv bb nn mm qa ws ed rf " * 3
        docs = self._docs(
            spark,
            [
                (1, left_ext + " 1111"),  # shares left_ext's tail + core with 3
                (2, right_ext + " 2222"),  # shares core + right_ext's head with 3
                (3, "PPPP QQQQ " * 5 + left_ext + right_ext[len(core):] + " RRRR"),
            ],
        )
        pairs = dedup.substring_pairs(docs, min_len=64)
        # doc 3 is claimed by both (1,3) and (2,3) with overlapping spans
        assert pairs.filter((F.col("b") == 3)).count() >= 2
        cleaned = dedup.remove_substring_spans(docs, pairs)
        r3 = {r["doc_id"]: r for r in cleaned.collect()}[3]
        assert core not in r3["text"]
        assert r3["n_spans_removed"] >= 1
        # overlap merged: chars_removed equals the UNION of the claimed
        # ranges, which the fixpoint below would catch if double-counted
        assert dedup.substring_pairs(
            cleaned.select("doc_id", "text"), min_len=64
        ).count() == 0

    def test_shared_prefix_anchor_at_position_zero(self, spark):
        """Docs sharing their PREFIX anchor at position 0 — regression
        for the reversed-slice bug where t[-1::-1] wrapped around and
        'extended' left past the document start (negative offsets)."""
        shared = "zz yy xx ww vv uu tt ss rr qq " * 3  # 90 chars
        docs = self._docs(
            spark,
            [(1, shared + "AAAA BBBB" * 5), (2, shared + "CCCC DDDD" * 5)],
        )
        got = dedup.substring_pairs(docs, min_len=64).collect()
        assert len(got) == 1
        r = got[0]
        assert r["a_start"] == 0 and r["b_start"] == 0
        assert r["length"] == len(shared)


def test_incremental_minhash_equals_full_run_restricted(spark, sf_small):
    """Incremental (new×history + new×new) must find EXACTLY the pairs a
    full-corpus run finds, minus the history-internal ones: signatures,
    banding, and exact-verify are identical — only the pairing scope
    shrinks."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    incr = {
        (min(r["new_id"], r["match_id"]), max(r["new_id"], r["match_id"]))
        for r in dedup.incremental_minhash_near_dups(
            new, hist, threshold=0.5
        ).collect()
    }
    full = {
        (r["a"], r["b"])
        for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()
        if not (r["a"] % 5 != 0 and r["b"] % 5 != 0)
    }
    assert incr == full and incr


def test_incremental_minhash_labels_sides(spark, sf_small):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    rows = dedup.incremental_minhash_near_dups(new, hist, threshold=0.5).collect()
    for r in rows:
        assert r["new_id"] % 5 == 0
        if r["against"] == "history":
            assert r["match_id"] % 5 != 0
        else:
            assert r["against"] == "new" and r["match_id"] % 5 == 0
        assert r["jaccard"] >= 0.5


def test_normalized_dedup_collapses_reformatted_copies(spark):
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.text import normalize_for_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO WORLD."),
            (4, "goodbye world"),
        ],
        ["doc_id", "text"],
    )
    canon = df.select("doc_id", normalize_for_dedup(F.col("text")).alias("text"))
    kept = {r["doc_id"] for r in dedup.exact_dedup(canon).collect()}
    assert kept == {1, 4}  # lowest id survives the collapsed trio


def test_nfkc_path_collapses_fullwidth_and_ligature_copies(spark):
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.text import normalize_for_dedup

    df = spark.createDataFrame(
        [
            (1, "final flags 42"),
            (2, "ﬁnal ﬂags 42"),  # fi/fl ligatures
            (3, "ｆｉｎａｌ　ｆｌａｇｓ　４２"),  # full-width + ideographic space
            (4, "other doc"),
        ],
        ["doc_id", "text"],
    )
    nfkc = df.select(
        "doc_id", normalize_for_dedup(F.col("text"), nfkc=True).alias("text")
    )
    kept = {r["doc_id"] for r in dedup.exact_dedup(nfkc).collect()}
    assert kept == {1, 4}  # all three compatibility forms collapse onto 1
    plain = df.select(
        "doc_id", normalize_for_dedup(F.col("text")).alias("text")
    )
    kept_plain = {r["doc_id"] for r in dedup.exact_dedup(plain).collect()}
    # without NFKC the ligature/full-width copies do NOT collapse onto 1
    assert 1 in kept_plain and len(kept_plain) > 2
    # NULL text passes through the Arrow batch untouched
    with_null = spark.createDataFrame([(9, None)], "doc_id int, text string")
    row = with_null.select(
        normalize_for_dedup(F.col("text"), nfkc=True).alias("t")
    ).first()
    assert row["t"] is None


class TestSemanticDedup:
    def test_planted_copies_always_dropped(self, spark, sf_small):
        emb = _emb(spark, sf_small).select("vec_id", "embedding")
        planted = emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        corpus = emb.unionByName(planted)
        survivors = dedup.semantic_dedup(corpus, threshold=0.9)
        # identical vectors share an argmax cell, so every planted copy
        # meets its lower-id original inside a cell and is dropped
        assert survivors.filter(F.col("vec_id") >= 10_000).count() == 0
        # and no original is dropped: only the copy has cosine >= 0.9,
        # always on the higher-id side
        assert survivors.count() == emb.count()

    @pytest.mark.slow
    def test_pairs_subset_of_exact_pairs(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators.similarity import cosine_pairs

        emb = _emb(spark, sf_small)
        sem = dedup.semantic_pairs(emb, threshold=0.3, n_clusters=8)
        exact = cosine_pairs(emb, 0.3)
        # blocking can only MISS pairs; every emitted pair is exact-verified
        assert (
            sem.select("a", "b").join(
                exact.select("a", "b"), ["a", "b"], "left_anti"
            ).count()
            == 0
        )

    @pytest.mark.slow
    def test_survivors_superset_of_exact(self, spark, sf_small):
        emb = _emb(spark, sf_small)
        exact = dedup.embedding_dedup(emb, threshold=0.3).select("vec_id")
        sem = dedup.semantic_dedup(emb, threshold=0.3).select("vec_id")
        assert exact.join(sem, "vec_id", "left_anti").count() == 0


def test_lsh_rejects_indivisible_band_config(spark):
    """Regression (r8 review): n_hashes % bands != 0 silently discarded
    the trailing signature values, shifting the LSH S-curve away from
    the configured threshold."""
    import pytest

    from kusuma_metamorph_etl_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(df, n_hashes=16, bands=5).collect()


def test_incremental_substring_matches_batch_restriction(spark):
    """incremental(new, hist) must equal batch substring_pairs(union)
    restricted to pairs touching a new id — history is never re-paired
    against itself, but no cross or within-new span is lost."""
    from kusuma_metamorph_etl_spark.operators.dedup import (
        incremental_substring_pairs,
        substring_pairs,
    )

    para = "the quick brown fox jumps over the lazy dog again and again " * 4
    hist_rows = [
        (i, f"history document {i} " + ("lorem ipsum dolor sit amet " * 10) + str(i))
        for i in range(10)
    ]
    hist_rows.append((42, "anchor " + para + " tail of history"))
    new_rows = [
        (100, "fresh crawl page with " + para + " copied from history"),
        (101, "another new page sharing " + para + " the same paragraph"),
        (102, "unrelated novel content entirely " + "zebra xylophone " * 20),
    ]
    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    inc = incremental_substring_pairs(new, hist, min_len=64)
    got = {(r["a"], r["b"], r["against"]) for r in inc.collect()}
    # both new docs match the history anchor, and each other
    assert (100, 42, "history") in got
    assert (101, 42, "history") in got
    assert (100, 101, "new") in got
    assert all(a in (100, 101, 102) for a, _, _ in got)  # a is always new

    batch = substring_pairs(new.unionByName(hist), min_len=64)
    new_ids = {100, 101, 102}
    expected_pairs = {
        (r["a"], r["b"])
        for r in batch.collect()
        if r["a"] in new_ids or r["b"] in new_ids
    }
    # same pair set up to orientation (batch orders a<b; incremental
    # puts the new id first)
    norm_inc = {tuple(sorted(p[:2])) for p in got}
    norm_batch = {tuple(sorted(p)) for p in expected_pairs}
    assert norm_inc == norm_batch


def test_incremental_semantic_pairs_and_dedup(spark, tmp_path):
    """r8 VERDICT #5: a new batch checked against a persisted frozen-
    centroid index finds its corpus duplicates and its within-batch
    duplicates, and the survivor rule drops exactly the matched rows."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.dedup import (
        incremental_semantic_dedup,
        incremental_semantic_pairs,
    )
    from kusuma_metamorph_etl_spark.operators.similarity import (
        write_ivf_index,
    )

    rng = np.random.default_rng(7)
    hist_rows = [
        (int(i), rng.normal(size=8).tolist()) for i in range(1, 41)
    ]
    hist = spark.createDataFrame(
        hist_rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "idx")
    write_ivf_index(hist, idx, n_centroids=4)

    # new batch: 100 = exact copy of history 7; 101/102 = exact copies
    # of each other (novel direction); 103 = novel
    copies = dict(hist_rows)[7]
    novel_dup = rng.normal(size=8).tolist()
    new = spark.createDataFrame(
        [
            (100, copies),
            (101, novel_dup),
            (102, novel_dup),
            (103, rng.normal(size=8).tolist()),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = incremental_semantic_pairs(new, idx, threshold=0.999)
    got = {(r["new_id"], r["match_id"], r["against"]) for r in pairs.collect()}
    assert (100, 7, "history") in got
    assert (101, 102, "new") in got
    # nothing pairs the genuinely novel row
    assert all(103 not in (a, b) for a, b, _ in got)

    survivors = {
        r["vec_id"]
        for r in incremental_semantic_dedup(new, idx, threshold=0.999).collect()
    }
    # corpus wins over 100; lowest-id-wins keeps 101, drops 102
    assert survivors == {101, 103}


def test_ivf_build_seeds_sparse_id_sets(spark):
    """Regression (r9): stride seeding (id % (count//k) == 0) seeded ZERO
    centroids whenever the id set missed its own stride — e.g. ids all
    coprime to the stride.  Hash-order seeding must fill min(|corpus|, k)
    centroids for ANY non-empty id set."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.similarity import ivf_build

    rng = np.random.default_rng(3)
    # 40 ids, none divisible by 5 (the old stride would be 40//8=5)
    rows = [
        (int(i), rng.normal(size=8).tolist())
        for i in range(1, 51)
        if i % 5 != 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_build(df, 8, "vec_id", "embedding", 0)
    assert len(cents) == 8
    # tiny corpus: every row seeds, no duplicates invented
    tiny = spark.createDataFrame(rows[:3], "vec_id long, embedding array<double>")
    assert len(ivf_build(tiny, 8, "vec_id", "embedding", 0)) == 3


def test_lsh_planes_for_keeps_bucket_occupancy_constant():
    """r13 scale probe: fixed plane count makes LSH candidate pairs grow
    quadratically with the corpus (measured exponent 1.43 on a 10x
    scale-up).  `lsh_planes_for` holds expected occupancy near the
    target: identical to the historical 4 planes at test scales, one
    extra plane per corpus doubling beyond."""
    from kusuma_metamorph_etl_spark.operators.dedup import lsh_planes_for

    assert lsh_planes_for(0) == 4
    assert lsh_planes_for(200) == 4  # sf0.01 — _err gate regime unchanged
    assert lsh_planes_for(2000) == 4  # sf0.1 — bench regime unchanged
    assert lsh_planes_for(20_000) == 8  # sf1.0 — 256 buckets
    assert lsh_planes_for(20_000_000) == 18
    # occupancy bound: buckets keep expected load within [target/2, target]
    for n in (10_000, 1_000_000, 10**9):
        planes = lsh_planes_for(n)
        assert n / (1 << planes) <= 128


# ------------------------------------------------------------ Bloom prefilter


def test_bloom_params_for_sizing():
    """Bloom 1970 sizing: ~9.6 bits/key and 7 hashes at fpp=0.01, word
    granularity, floor and cap clamps."""
    from kusuma_metamorph_etl_spark.operators.dedup import bloom_params_for

    m, k = bloom_params_for(1000, fpp=0.01)
    assert 9000 <= m <= 10_048 and m % 64 == 0
    assert k == 7
    assert bloom_params_for(0) == (64, 1)
    m_cap, k_cap = bloom_params_for(10**12, fpp=0.01, cap_bits=1 << 20)
    assert m_cap == 1 << 20 and k_cap == 1  # capped: degrade, never grow


def test_bloom_autosized_no_false_negatives_and_bounded_fp(spark):
    """`bloom_params_for`-sized sketch (the `sketches.bloom_sketch` /
    `bloom_probe` primitives): every inserted key flags maybe (no false
    negatives — the property the exactness of bloom_incremental_dedup
    rests on); non-members flag at ~fpp."""
    from kusuma_metamorph_etl_spark.operators.dedup import bloom_params_for
    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_probe,
        bloom_sketch,
    )

    members = spark.range(0, 500).select(
        F.md5(F.col("id").cast("string")).alias("key")
    )
    outsiders = spark.range(10_000, 12_000).select(
        F.md5(F.col("id").cast("string")).alias("key")
    )
    m, k = bloom_params_for(500, fpp=0.01)
    sketch = bloom_sketch(members, "key", n_bits=m, n_hashes=k)
    flagged_in = bloom_probe(sketch, members, "key", m, k, out="maybe")
    assert flagged_in.filter(~F.col("maybe")).count() == 0
    fp = bloom_probe(sketch, outsiders, "key", m, k, out="maybe").filter(
        F.col("maybe")
    ).count()
    assert fp / 2000 < 0.05  # sized for 0.01; generous noise margin


def test_bloom_incremental_dedup_equals_plain_anti_join(spark, sf_small):
    """The Bloom prefilter + exact verify must return EXACTLY the plain
    anti-join's rows — the contract that makes dedup_bloom_incr a full
    hash-oracle row rather than an _err bound."""
    docs = _docs(spark, sf_small)
    new = docs.filter(F.col("source") == "src0")
    # plant: history also carries the text of every 3rd new doc under a
    # shifted id, so the anti-join provably has rows to remove
    history = docs.filter(F.col("source") != "src0").unionByName(
        new.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("source", F.lit("srcH"))
    )
    plain = {
        r["doc_id"]
        for r in dedup.incremental_dedup(new, history).select("doc_id").collect()
    }
    bloomed = {
        r["doc_id"]
        for r in dedup.bloom_incremental_dedup(new, history)
        .select("doc_id")
        .collect()
    }
    assert bloomed == plain
    assert len(plain) < new.count()  # the planted dups really dropped


def test_minhash_rejects_nonpositive_hashes_or_bands(spark):
    """n_hashes=0 raised a bare 'exprs should not be empty'
    AssertionError and bands=0 a raw ZeroDivisionError — both are a clear
    ValueError ahead of the divisibility check, on the batch and the
    incremental path, and on the public signature entry."""
    import pytest

    from kusuma_metamorph_etl_spark.operators import dedup

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    hist = spark.createDataFrame([(2, "a b d")], "doc_id long, text string")
    for nh, nb in ((0, 4), (16, 0), (-8, 4)):
        with pytest.raises(ValueError, match="must be >= 1"):
            dedup.minhash_near_dups(docs, n_hashes=nh, bands=nb)
        # the incremental path builds signatures of both sides: the
        # guard must run before either
        with pytest.raises(ValueError, match="must be >= 1"):
            dedup.incremental_minhash_near_dups(docs, hist, n_hashes=nh, bands=nb)
        if nh < 1:
            with pytest.raises(ValueError, match="must be >= 1"):
                dedup.minhash_signatures(docs, n_hashes=nh)


@pytest.mark.parametrize("op", ["embedding_dedup_lsh", "semantic_dedup", "ivf_build"])
def test_null_vectors_never_pair(spark, op):
    """A NULL embedding has no direction: the blocked paths never pair it
    and keep its row, as the exact path does, and it seeds no centroid.
    Five exact copies make the blocked paths' recall exact here."""
    import random

    from kusuma_metamorph_etl_spark.operators.similarity import ivf_build

    rng = random.Random(7)
    vecs = [[rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(36)]
    vecs += [list(v) for v in vecs[:5]]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(list(enumerate(vecs, 1)), schema)
    df = clean.unionByName(spark.createDataFrame([(42, None)], schema))
    if op == "ivf_build":
        assert ivf_build(df, 8, refine_iters=2) == ivf_build(
            clean, 8, refine_iters=2
        )
        return
    exact = {r.vec_id for r in dedup.embedding_dedup(df, threshold=0.9).collect()}
    if op == "embedding_dedup_lsh":
        blocked = dedup.embedding_dedup(df, threshold=0.9, prefilter="lsh")
    else:
        blocked = dedup.semantic_dedup(df, threshold=0.9, n_clusters=4)
    assert 42 in exact and len(exact) == 37
    assert {r.vec_id for r in blocked.collect()} == exact
