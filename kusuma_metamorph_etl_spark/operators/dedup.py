"""[EXT] Deduplication operators for training-data pipelines
(SURVEY.md §2.10 north-star): exact, n-gram-Jaccard, MinHash+LSH, SimHash.

Scale design — the point of each variant:

* **exact**: hash-groupBy on a content fingerprint.  One shuffle of
  (fingerprint, id) pairs, never of document bodies.
* **n-gram Jaccard**: *exact* pairwise similarity via an inverted index
  (explode shingles → self-join on shingle → count common).  Quadratic in
  the worst case — correct reference semantics at test scale and the
  verifier for the approximate methods.
* **MinHash + LSH**: the 100 TB path.  Signatures are fixed-size (H mins),
  banding turns near-dup search into an equi-join on (band, band_hash) —
  candidates only, verified by exact Jaccard afterwards.  All built-in
  column expressions (sequence/transform/xxhash64/array_min); no UDFs.
* **SimHash**: 64-bit signature whose Hamming distance tracks cosine
  similarity of token sets; blocking on signature chunks gives the
  candidate join.

Every blocked operator here is "blocking key -> equi-join on the key ->
candidate pairs -> exact verify", and three seams hold the shared parts:

* :func:`pairs` builds every candidate join: the ``a < b`` self-join on
  the key, or for an incremental batch new x history plus new x new
  labelled by ``against``.  Each operator keeps only its key function.
* :func:`cosine_verify` is the one numpy cosine over ``vec_a``/``vec_b``
  (embedding LSH, SemDeDup and its incremental twin).
* ``similarity.lloyd`` is the one k-means loop behind the SemDeDup cells
  (``similarity.ivf_build``) and the PQ codebooks.

The n-gram and MinHash paths share one array-Jaccard verify
(:func:`_jaccard_verify`), the substring paths one span verify
(:func:`_span_verify`).

Cited parity: the reference has only the PK duplicate *gate*
(`/root/reference/ETL-Airflow/dags/tasks/transform_utils.py:79-92`); these
operators extend it to content-level dedup per the project north star.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.text import fingerprint, words
from kusuma_metamorph_etl_spark.plans.share import share


# ----------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    survivor_by: str | None = None,
) -> DataFrame:
    """Keep one representative per exact content fingerprint.

    Default survivor rule is lowest id.  ``survivor_by`` names a NUMERIC
    column (e.g. a quality score) to prefer instead — highest value
    wins, NULL scores lose to every scored row, lowest id breaks ties —
    the RefinedWeb/FineWeb practice of keeping the *best* copy of a
    duplicate cluster rather than an arbitrary one.  Deterministic
    either way, so the result is SQL-replayable (``row_number() OVER
    (PARTITION BY md5(text) ORDER BY q DESC NULLS LAST, id)``).

    groupBy(md5) shuffles only (hash[, score], id) tuples; the winning
    ids then semi-join the original frame, so bodies move at most once.
    """
    if survivor_by is None:
        keep = (
            df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
    else:
        # min(struct(q IS NULL, -q, id)) == arg-max on (q DESC NULLS
        # LAST, then lowest id) in ONE map-side-combinable aggregate —
        # no window, no second shuffle.  The leading null flag is load-
        # bearing: Spark struct ordering sorts a NULL field FIRST, so
        # without it a NULL score would beat every scored row.
        keep = (
            df.select(
                fingerprint(F.col(text_col)).alias("__fp"),
                F.struct(
                    F.col(survivor_by).isNull().alias("__qnull"),
                    (-F.col(survivor_by)).alias("__negq"),
                    F.col(id_col).alias("__id"),
                ).alias("__key"),
            )
            .groupBy("__fp")
            .agg(F.min("__key").alias("__w"))
            .select(F.col("__w.__id").alias(id_col))
        )
    return df.join(keep, on=id_col, how="left_semi")


def incremental_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Drop rows of ``new_df`` whose content fingerprint already exists in
    ``history_df`` — the daily-snapshot shape of dedup: each ingest batch
    checks only against accumulated history, never all-pairs.  At scale the
    history side is a fingerprint-only table (one md5 column, precomputed
    and bucketed by fingerprint), so the anti-join shuffles 16-byte keys,
    not document bodies."""
    hist = history_df.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    return (
        new_df.withColumn("__fp", fingerprint(F.col(text_col)))
        .join(hist, on="__fp", how="left_anti")
        .drop("__fp")
    )


# ------------------------------------------------------------ Bloom prefilter


def bloom_params_for(
    n_rows: int, fpp: float = 0.01, cap_bits: int = 1 << 27
) -> tuple[int, int]:
    """Classic Bloom sizing ``(n_bits, n_hashes)`` for ``n_rows`` keys at
    false-positive rate ``fpp``: ``m = -n·ln p / ln²2``, ``k = m/n·ln 2``
    (Bloom 1970) — the derived-parameter companion to
    :func:`sketches.bloom_sketch`'s fixed 1 M-bit default, same shape as
    :func:`lsh_planes_for` / :func:`similarity.n_cells_for`.

    ``m`` rounds up to a multiple of 64 (the sketch packs 64 bits/word)
    and clamps to ``[64, cap_bits]``.  The cap keeps
    :func:`sketches.bloom_probe`'s collected bitset bounded (2^27 bits =
    16 MB broadcast); past ~13 M history keys the FP rate degrades
    gracefully and the exact verify join in
    :func:`bloom_incremental_dedup` still guarantees correctness — it
    just prunes less.  Beyond that, shard the filter by key range."""
    import math

    if n_rows <= 0:
        return 64, 1
    m = int(-n_rows * math.log(max(1e-12, min(fpp, 0.5))) / (math.log(2) ** 2))
    m = max(64, min(cap_bits, ((m + 63) // 64) * 64))
    k = max(1, round(m / n_rows * math.log(2)))
    return m, min(k, 16)


def bloom_incremental_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    fpp: float = 0.01,
) -> DataFrame:
    """:func:`incremental_dedup` with a Bloom prefilter — the 100 TB
    shape of the daily-ingest anti-join, composed from the mergeable
    sketch primitives (:func:`sketches.bloom_sketch` /
    :func:`sketches.bloom_probe`; :func:`sketches.bloom_prefilter_join`
    is the INNER-join twin, this is the anti-join one).

    A direct anti-join ships EVERY new-batch fingerprint into a shuffle
    against the full history fingerprint table.  Here history compresses
    into a Bloom bitset (~10 bits/doc at fpp=0.01 vs 128-bit md5 rows)
    that probes the new batch as a broadcast narrow map — NO shuffle for
    the definitely-fresh majority, which passes straight through; only
    the maybe-seen sliver (true dups + ~fpp of the rest) pays the exact
    verify anti-join.  Bloom filters have NO false negatives, so
    prefilter + exact verify returns EXACTLY the anti-join's rows — the
    output is oracle-hash-equal to :func:`incremental_dedup`, not an
    approximation.  The history count that sizes the filter is one
    count() action — the index-build step; persist the sketch table like
    ``write_ivf_index`` persists centroids to amortize across batches
    (bit-wise OR merges nightly increments without rescanning history).
    """
    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_probe,
        bloom_sketch,
    )

    # One eager share of the history fingerprints serves all three
    # actions (count, sketch build, verify anti-join).  It must be a
    # lineage-truncated snapshot, not a persist() cache: a lost cached
    # partition is recomputed from the live source, so a history that
    # changed between the sketch action and the verify action could
    # surface a fingerprint the sketch never saw, probe definitely-absent,
    # bypass the verify join, and break the hash-equality contract.
    hist = share(
        history_df.select(fingerprint(F.col(text_col)).alias("__fp")).distinct(),
        eager=True,
    )
    n_bits, n_hashes = bloom_params_for(hist.count(), fpp)  # bound: one row
    sketch = bloom_sketch(hist, "__fp", n_bits=n_bits, n_hashes=n_hashes)
    flagged = bloom_probe(
        sketch,
        new_df.withColumn("__fp", fingerprint(F.col(text_col))),
        "__fp",
        n_bits=n_bits,
        n_hashes=n_hashes,
        out="__maybe",
    )
    fresh = flagged.filter(~F.col("__maybe"))
    verified = flagged.filter(F.col("__maybe")).join(
        hist, on="__fp", how="left_anti"
    )
    return fresh.unionByName(verified).drop("__fp", "__maybe")


# ----------------------------------------------------------------- shingles

def token_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles over an ALREADY-MATERIALIZED token array
    (0-based transform; all JVM-side).  Documents with fewer than ``n``
    tokens yield an empty set — guarded explicitly because
    ``sequence(0, -1)`` would count *down* and index 0 is invalid under
    ANSI semantics.

    Pass a materialized column, not the ``words(...)`` expression:
    higher-order-function lambdas re-evaluate captured outer expressions
    PER ELEMENT (no cross-lambda subexpression elimination), so an inline
    tokenizer would re-split the document once per gram per ``element_at``
    — measured 12.8s → 0.8s on the 5-gram decontamination sweep at sf0.1
    after materializing tokens in the projection below the explode."""
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + k + 1)) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Shingles straight from a text column — convenience form for
    single-use expressions.  Hot paths (anything exploding shingles)
    should materialize tokens first and use :func:`token_shingles`."""
    return token_shingles(words(text), n)


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) inverted-index rows.  Tokens materialize in their own
    projection under the explode Generate — see :func:`token_shingles` for
    why inlining the tokenizer into the lambda is pathological."""
    toked = df.select(F.col(id_col), words(F.col(text_col)).alias("__toks"))
    return toked.select(
        F.col(id_col), F.explode(token_shingles(F.col("__toks"), n)).alias("shingle")
    )


# ----------------------------------------------------------------- candidate pairs


def pairs(
    left: DataFrame,
    on: str | list[str],
    id_col: str,
    right: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from an equi-join on the blocking key ``on``.

    With one side: the self-join of ``left`` on ``on``, each unordered
    pair once as ``a < b``.  With ``right`` (the history of an
    incremental batch ``left``): new x history unioned with new x new
    (``a < b``), labelled by an ``against`` column ('history' / 'new');
    ``a`` is always the new id, and the same id must not appear on both
    sides.  ``on=[]`` is the cross join.

    ``id_col`` comes out as ``a`` / ``b`` and every other non-key column
    as ``<col>_a`` / ``<col>_b`` (a position, a signature, the vector).
    No ``distinct``: a pair colliding on several keys (bands, LSH tables,
    Hamming chunks) comes out once per key, and those callers collapse it
    themselves."""
    on = [on] if isinstance(on, str) else on

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            *on,
            *[
                F.col(c).alias(s if c == id_col else f"{c}_{s}")
                for c in df.columns
                if c not in on
            ],
        )

    def join(x: DataFrame, y: DataFrame) -> DataFrame:
        return x.join(y, on=on) if on else x.crossJoin(y)

    a = side(left, "a")
    within = join(a, side(left, "b")).filter(F.col("a") < F.col("b"))
    if right is None:
        return within
    return (
        join(a, side(right, "b"))
        .withColumn("against", F.lit("history"))
        .unionByName(within.withColumn("against", F.lit("new")))
    )


def cosine_verify(cand: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine verify of candidate pairs carrying ``vec_a`` /
    ``vec_b``: the pairs with cosine ≥ ``threshold``, every other column
    passed through (ids keep their types, ``against`` survives) plus
    ``cosine``.  One numpy dot + norm per Arrow batch instead of an
    interpreted per-element fold per pair (the ``cosine_topk_np``
    lesson: dense linear algebra does not belong in higher-order-function
    expressions); measured at sf0.1 (~820k embedding-LSH candidates):
    scoring 5-6 s as a fold vs 2.0 s here.  A zero-norm vector scores NaN
    and never passes."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    keep = [f for f in cand.schema.fields if f.name not in ("vec_a", "vec_b")]
    names = [f.name for f in keep]

    def score(batches):
        for batch in batches:
            if not len(batch):
                # a 0-row Arrow batch gives a 1-D empty array whose
                # .sum(axis=1) raises AxisError
                continue
            av = np.array(list(batch["vec_a"]), dtype=np.float64)
            bv = np.array(list(batch["vec_b"]), dtype=np.float64)
            cos = (av * bv).sum(axis=1) / (
                np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
            )
            out = batch[names].assign(cosine=cos)
            yield out[out["cosine"] >= threshold]

    schema = StructType([*keep, StructField("cosine", DoubleType())])
    return cand.mapInPandas(score, schema=schema)


# ----------------------------------------------------------------- exact Jaccard

def _pair_overlap_counts(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Shared inverted-index plan behind :func:`jaccard_pairs` and
    :func:`containment_pairs`: (a, b, n_common, na, nb) for every pair
    a < b sharing ≥ 1 shingle.  Explode shingles, self-join on shingle
    (common count), join per-doc shingle counts.  The shingle join is
    the scale hazard (hot shingles fan out) — production paths prefilter
    with :func:`minhash_lsh_candidates` and verify candidates only."""
    shingles = shingle_table(df, text_col, id_col, n)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    common = (
        pairs(shingles, "shingle", id_col)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.toDF("a", "na")
    sb = sizes.toDF("b", "nb")
    return common.join(sa, on="a").join(sb, on="b")


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a < b) with
    |A∩B| / |A∪B| ≥ threshold.

    Plan and scale hazard: :func:`_pair_overlap_counts`.
    """
    return (
        _pair_overlap_counts(df, text_col, id_col, n)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "na", "nb", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join: pairs (a < b) where
    |A∩B| / min(|A|, |B|) ≥ threshold — the doc-inside-doc detector.

    Jaccard misses subset duplication (a page quoted inside a much longer
    page scores |A|/|B| ≈ 0 Jaccard but containment 1.0), which is a
    common shape in web-scale training corpora (boilerplate wrappers,
    quote farms, aggregators).  Plan and scale hazard:
    :func:`_pair_overlap_counts`.
    """
    return (
        _pair_overlap_counts(df, text_col, id_col, n)
        .withColumn(
            "containment", F.col("n_common") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "n_common", "na", "nb", "containment")
    )


# ----------------------------------------------------------------- MinHash + LSH

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, sig) MinHash signatures: ``sig[j]`` is the min over a
    document's word ``n``-gram shingles of ``xxhash64(j, shingle)``.

    Each document is shingled exactly once.  Plan: explode shingles →
    one groupBy(id) with ``n_hashes`` ``min(xxhash64(seed, shingle))``
    aggregates.  min() is partial-aggregatable, so the shuffle carries
    one ``n_hashes``-long row per (id, map partition), not per shingle —
    this is the 100 TB shape.
    Documents with fewer than ``n`` tokens have no shingles and drop out
    (they cannot be shingle-near-dups of anything).
    """
    # Measured (sf0.1, same session, 3 reps each): this explode+groupBy
    # formulation runs the full near-dup pipeline in ~4.2-4.7s; replacing
    # it with a shuffle-free row expression
    # (array_min(transform(sh, s -> xxhash64(j, s))) per permutation)
    # is ~8.2-9.2s — 16 intermediate long-arrays per row lose to
    # codegen'd map-side partial mins despite the extra shuffle.  Don't
    # "optimize" this back to the narrow form without re-measuring.
    if n_hashes < 1:
        # zero aggregates die inside Spark with a bare "exprs should not
        # be empty" AssertionError
        raise ValueError(f"n_hashes must be >= 1, got n_hashes={n_hashes}")
    mins = [
        F.min(F.xxhash64(F.lit(j), F.col("shingle"))).alias(f"m{j}")
        for j in range(n_hashes)
    ]
    return (
        shingle_table(df, text_col, id_col, n)
        .groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col).alias("id"),
            F.array(*[F.col(f"m{j}") for j in range(n_hashes)]).alias("sig"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding (a < b, distinct).

    Signature split into ``bands`` rows of ``n_hashes // bands`` values;
    docs agreeing on ANY full band collide.  The plan is: narrow signature
    projection → explode bands (fixed fan-out) → equi-join on
    (band_idx, band_hash).  Probability-of-candidacy follows the classic
    (1 - (1 - j^r)^b) S-curve.
    """
    return (
        pairs(
            _band_table(df, text_col, id_col, n_hashes, bands, n),
            ["band_idx", "band_hash"],
            "id",
        )
        .select("a", "b")
        .distinct()
    )


def _band_table(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int, bands: int, n: int
) -> DataFrame:
    """(id, band_idx, band_hash) rows of ``df``'s MinHash signatures —
    the joinable LSH index representation (this is also the frame a
    production pipeline PERSISTS as its corpus index: append-only,
    partitionable by band_idx).  The parameters are checked before any
    signature is built, on the batch and the incremental path alike."""
    if n_hashes < 1 or bands < 1:
        # ahead of the modulo below, which raises a raw
        # ZeroDivisionError for bands=0
        raise ValueError(
            f"n_hashes and bands must be >= 1, got n_hashes={n_hashes}, "
            f"bands={bands}"
        )
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}) "
            "— the remainder signature values would be silently ignored, "
            "shifting the LSH S-curve away from the configured threshold"
        )
    sig = minhash_signatures(df, text_col, id_col, n_hashes, n)
    rows = n_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")


def _jaccard_verify(
    cand: DataFrame,
    a_docs: DataFrame,
    b_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard verify of candidate pairs ``cand`` (a, b,
    ...): ``a`` looks up its text in ``a_docs``, ``b`` in ``b_docs``;
    adds ``n_common`` and ``jaccard`` and keeps pairs ≥ ``threshold``.

    Verification intersects the two documents' distinct-shingle ARRAYS
    (``array_intersect``) instead of re-joining the exploded shingle
    table: the shingle-level join + groupBy("a","b") shuffle it replaces
    was the dominant bench cost (10.8s vs 6.9s at sf0.1, identical rows).
    Each candidate pair carries two shingle arrays through two narrow
    equi-joins; the intersection runs JVM-side inside codegen.  Persisting
    the shingle table was also measured SLOWER than recomputation
    (11.4-12.0s persisted vs 8.9-9.8s recomputed — cache materialization
    plus the extra job boundary beat cheap tokenize passes), so the plan
    recomputes."""

    def sets(docs: DataFrame, s: str) -> DataFrame:
        # Shingle sets are distinct per doc, so |intersect| is the exact
        # common-shingle count and |array| the per-doc set size.  Tokens
        # materialize in their own select — token_shingles embeds its
        # input expression ~5x, and an inlined tokenizer evaluates per
        # copy (measured 4.4s -> 0.2s for this projection at sf0.1).
        return docs.select(
            F.col(id_col).alias(s), words(F.col(text_col)).alias("__toks")
        ).select(s, token_shingles(F.col("__toks"), n).alias(f"sh{s}"))

    return (
        cand.join(sets(a_docs, "a"), on="a")
        .join(sets(b_docs, "b"), on="b")
        .withColumn("n_common", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sha") + F.size("shb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — the full near-dup
    pipeline (generate cheaply, verify exactly; :func:`_jaccard_verify`).
    """
    cand = minhash_lsh_candidates(df, text_col, id_col, n_hashes, bands, n)
    return _jaccard_verify(cand, df, df, text_col, id_col, n, threshold).select(
        "a", "b", "jaccard"
    )


def incremental_minhash_near_dups(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: check a NEW batch against an
    existing corpus without ever re-pairing history against itself.

    The growing-corpus shape every crawl refresh hits: history is 100 TB
    and already internally deduped; tonight's batch is 0.1% of that.
    Recomputing all-pairs LSH over the union redoes 99.9% of yesterday's
    work — the incremental plan only joins the new batch's band table
    against the history band table (plus the new batch against itself),
    so cost scales with |new| × collision rate, not |corpus|².  In production the history band table is the
    PERSISTED index (`_band_table` output, partitionable by band_idx,
    append-only: tonight's new bands become tomorrow's history).

    Returns (new_id, match_id, against, jaccard) where ``against`` is
    'history' or 'new'; pairs are exact-Jaccard-verified on candidates
    only, same verify plan as :func:`minhash_near_dups`.  The same
    id must not appear on both sides.
    """
    new_bands, hist_bands = (
        _band_table(d, text_col, id_col, n_hashes, bands, n)
        for d in (new_df, history_df)
    )
    cand = (
        pairs(new_bands, ["band_idx", "band_hash"], "id", hist_bands)
        .select("a", "b", "against")
        .distinct()
    )
    return _jaccard_verify(
        cand, new_df, new_df.unionByName(history_df), text_col, id_col, n, threshold
    ).select(
        F.col("a").alias("new_id"), F.col("b").alias("match_id"), "against", "jaccard"
    )


# ----------------------------------------------------------------- SimHash

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 48) -> DataFrame:
    """Per-document frequency-weighted SimHash signature (Charikar 2002;
    ``bits`` wide, ≤ 62 to stay in a signed long).

    Votes are weighted by term frequency — unweighted distinct-token
    SimHash degenerates when documents share a small vocabulary (every
    long doc covers the whole vocab → identical signatures), which is
    exactly the corpus shape of web-scale training data.  Plan: explode
    tokens → one (id, token) count agg → hash each distinct term once →
    one groupBy(id) with per-bit ±weight votes.  Shuffles only
    (id, term-hash, weight) triples, never document bodies.
    """
    if bits > 62:
        raise ValueError("bits must be ≤ 62 (signed-long reassembly)")
    tokens = (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", F.xxhash64("tok"))
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("w")
            ).otherwise(-F.col("w"))
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    voted = tokens.groupBy(id_col).agg(*votes)
    signature = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        signature = bit if signature is None else (signature + bit)
    return voted.select(F.col(id_col), signature.alias("simhash"))


def hamming_blocked_pairs(
    sigs: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """All (a < b, hamming) pairs within ``max_hamming`` bit flips over a
    (id, long-signature) frame — the shared scale kernel behind SimHash
    text dedup and pHash image dedup.

    Pigeonhole chunk blocking, no cross join: split the signature into
    ``max_hamming + 1`` chunks; any pair within ``max_hamming`` flips must
    agree exactly on at least one chunk, so candidates come from an
    equi-join on (chunk_idx, chunk_value) and only candidates pay the
    exact Hamming check.  Fan-out per row is the fixed chunk count, so
    the join input is O(n · (m+1)) rows.
    """
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    if chunk_bits == 0:
        raise ValueError("bits must be >= max_hamming + 1")

    # Last chunk absorbs the remainder bits so all bits are covered.
    chunks = []
    for c in range(n_chunks):
        width = chunk_bits if c < n_chunks - 1 else bits - chunk_bits * (n_chunks - 1)
        chunks.append(
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright(F.col(sig_col), c * chunk_bits)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk_val"),
            )
        )
    chunked = sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("sig"),
        F.explode(F.array(*chunks)).alias("ch"),
    ).select(id_col, "sig", "ch.chunk_idx", "ch.chunk_val")
    return (
        pairs(chunked, ["chunk_idx", "chunk_val"], id_col)
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit flips of each other
    (:func:`hamming_blocked_pairs` over :func:`simhash` signatures)."""
    sigs = simhash(df, text_col, id_col, bits)
    return hamming_blocked_pairs(sigs, bits, max_hamming, id_col, "simhash")


# ------------------------------------------------- embedding near-dup

def lsh_planes_for(n_rows: int, target_occupancy: int = 128) -> int:
    """Hyperplane count that keeps expected bucket occupancy near
    ``target_occupancy``: ``max(4, ceil(log2(n / target)))``.

    Why this exists: with a FIXED plane count the
    bucket count is fixed, so occupancy grows linearly with the corpus
    and candidate pairs grow QUADRATICALLY — the probe measured
    exponent 1.43 on a 10x scale-up.  Holding occupancy constant makes
    candidate generation linear in corpus size; the cost is a lower
    per-table collision probability for true pairs ((1 − θ/π)^planes),
    so recall-critical deployments should grow ``n_tables`` alongside
    (the recall bound in :func:`embedding_lsh_pairs`)."""
    import math

    if n_rows <= 0:
        return 4
    return max(4, math.ceil(math.log2(max(1.0, n_rows / target_occupancy))))


def embedding_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs (a < b, cosine ≥ threshold) via multi-table
    hyperplane LSH blocking + exact cosine verify.

    The 100 TB shape: each vector explodes to ``n_tables`` (table, bucket)
    rows; the self-join is an equi-join on (table, bucket), so comparisons
    drop from |N|² to bucket collisions.  Verification is exact, so the
    only approximation is *recall* — a true pair colliding in no table is
    missed (bound: 1 − (1 − (1 − θ/π)^planes)^tables).

    ``n_planes=None`` derives the plane count from the corpus size via
    :func:`lsh_planes_for` (one count() job), keeping bucket occupancy —
    and therefore candidate-pair volume PER ROW — constant as the corpus
    grows; a fixed plane count degrades quadratically.
    """
    if n_planes is None:
        n_planes = lsh_planes_for(df.count())  # bound: one row
    from kusuma_metamorph_etl_spark.operators.similarity import (
        hyperplane_signatures_np,
    )

    # Ids only in the bucket join: the vectors stay OUT of the exploded
    # frame and re-attach per distinct candidate (a pair colliding in
    # several tables costs one cosine, not several) — measured at sf0.1
    # (2000 vecs, 8 tables x 16 buckets): 16.0s -> 5.1s vs verifying
    # per-collision with vectors riding the exploded join.  Signatures
    # come from the broadcast-numpy path: plan-literal planes embed
    # 8×4×64 constants and pay a multi-second codegen compile per query.
    # Both join sides read one shared signature frame: without it each
    # side re-runs the MapInPandas hyperplane pass over the FULL corpus.
    sigs = share(
        hyperplane_signatures_np(df, "id", n_planes, n_tables, dim, id_col, vec_col)
    )
    cand = pairs(sigs, ["tbl", "bucket"], "id").select("a", "b").distinct()
    vecs = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("vec_a"))
    return cosine_verify(
        cand.join(vecs, on="a")
        .join(vecs.toDF("b", "vec_b"), on="b")
        .select("a", "b", "vec_a", "vec_b"),
        threshold,
    )


def embedding_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefilter: str | None = None,
    n_planes: int | None = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup removal: drop every row whose cosine to a
    LOWER-id row is ≥ threshold (greedy lowest-id-wins — same winner rule
    as :func:`exact_dedup`; near-duplicate is not an equivalence relation,
    so the tie rule is declared, not derived).

    ``prefilter=None`` scores all pairs exactly (test scale; the oracle
    semantics).  ``prefilter="lsh"`` blocks candidates with
    :func:`embedding_lsh_pairs` first — missed candidates mean missed
    drops, so the LSH result is always a superset of the exact survivors
    (recall asserted in tests).
    """
    from kusuma_metamorph_etl_spark.operators.similarity import cosine_pairs

    if prefilter is None:
        pairs = cosine_pairs(df, threshold, id_col, vec_col)
    elif prefilter == "lsh":
        pairs = embedding_lsh_pairs(
            df, threshold, id_col, vec_col, n_planes, n_tables, dim
        )
    else:
        raise ValueError(f"unknown prefilter {prefilter!r}")
    dups = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(dups, on=id_col, how="left_anti")


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Corpus documents sharing ANY word n-gram with a benchmark set —
    test-set decontamination for training corpora (the published
    13-gram-collision rule used for LLM training-data hygiene; lowered
    ``n`` tightens it).

    Scale shape: the benchmark side collapses to distinct grams and
    BROADCASTS (benchmarks are MB-scale; the corpus is the 100 TB side);
    corpus grams explode narrowly into the broadcast join, and only hit
    *ids* reach the one shuffle (distinct).  ``hash_grams`` joins on
    xxhash64(gram) instead of the gram text — 8 bytes instead of ~100 —
    at a vanishing false-positive risk; disable for an engine-portable
    (oracle-reproducible) exact-string join.

    Returns distinct contaminated ``id_col`` rows.
    """
    def key(col: Column) -> Column:
        return F.xxhash64(col) if hash_grams else col

    def grams_of(df: DataFrame, *cols: str) -> DataFrame:
        # Tokens materialize under the explode (token_shingles docstring),
        # and the hash applies in a projection above it — a generator
        # cannot nest inside the hash expression.
        toked = df.select(
            *cols, words(F.lower(F.col(text_col))).alias("__toks")
        )
        return toked.select(
            *cols, F.explode(token_shingles(F.col("__toks"), n)).alias("__g")
        ).select(*cols, key(F.col("__g")).alias("__gram"))

    bench_grams = grams_of(benchmark).distinct()
    corpus_grams = grams_of(corpus, id_col)
    return (
        corpus_grams.join(F.broadcast(bench_grams), on="__gram")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Drop corpus documents that collide with the benchmark
    (:func:`ngram_contamination`); anti-join on the contaminated ids."""
    hits = ngram_contamination(corpus, benchmark, n, id_col, text_col, hash_grams)
    return corpus.join(hits, on=id_col, how="left_anti")


# ------------------------------------------------- exact substring spans


def _winnow_fingerprints_udf(k: int, w: int):
    """Arrow-batched UDF: per document, the winnowed set of k-gram
    rolling-hash fingerprints as ``array<struct<h:long, pos:int>>``.

    Hashing is a degree-(k−1) polynomial over code points mod 2^64
    (numpy uint64 wrap — one vectorized multiply-sum per document, no
    per-gram digest calls); winnowing selects the first-minimum hash in
    every window of ``w`` consecutive gram positions (Schleimer,
    Wilkerson & Aiken, SIGMOD'03).  The selection rule is content-
    determined, so two documents sharing any substring of length
    ≥ w + k − 1 select at least one identical (hash, in-span offset)
    fingerprint — the recall guarantee the caller's blocking join
    relies on.  Expected density is 2/(w+1) fingerprints per position:
    the per-document sketch is sub-linear and the downstream shuffle
    carries (hash, id, pos) triples only, never text.
    """
    import numpy as np

    B = np.uint64(1099511628211)  # FNV-1a prime, odd -> full period mod 2^64
    powers = np.empty(k, dtype=np.uint64)
    p = np.uint64(1)
    with np.errstate(over="ignore"):  # mod-2^64 wrap is the hash design
        for i in range(k - 1, -1, -1):
            powers[i] = p
            p = p * B
    swv = np.lib.stride_tricks.sliding_window_view

    @F.pandas_udf("array<struct<h: long, pos: int>>")
    def fp(texts: pd.Series) -> pd.Series:
        def one(t: str) -> list[dict]:
            n = len(t)
            if n < k:
                return []
            codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
                np.uint64
            )
            with np.errstate(over="ignore"):
                h = (swv(codes, k) * powers).sum(axis=1)  # uint64 wrap
            m = h.shape[0]
            if m <= w:
                sel = np.array([int(h.argmin())])
            else:
                sel = np.unique(
                    swv(h, w).argmin(axis=1) + np.arange(m - w + 1)
                )
            signed = h.view(np.int64)
            return [
                {"h": int(signed[i]), "pos": int(i)} for i in sel
            ]

        return texts.map(one)

    return fp


def _extend_match_udf(k: int):
    """Arrow-batched UDF: maximal equal span around a verified k-gram
    anchor — ``struct<a_start:int, b_start:int, length:int>`` (0-based
    character offsets), or length 0 for a hash-collision false anchor
    (polynomial hashes collide; extension is the exactness check, so
    collisions cost a comparison, never a wrong pair)."""

    def common_prefix_len(x: str, y: str, chunk: int = 256) -> int:
        n = min(len(x), len(y))
        i = 0
        while i < n:
            j = min(i + chunk, n)
            if x[i:j] == y[i:j]:
                i = j
                continue
            while i < n and x[i] == y[i]:
                i += 1
            break
        return i

    @F.pandas_udf("struct<a_start: int, b_start: int, length: int>")
    def extend(
        ta: pd.Series, tb: pd.Series, pa: pd.Series, pb: pd.Series
    ) -> pd.DataFrame:
        out = {"a_start": [], "b_start": [], "length": []}
        for t_a, t_b, p_a, p_b in zip(ta, tb, pa, pb):
            p_a, p_b = int(p_a), int(p_b)
            if t_a[p_a : p_a + k] != t_b[p_b : p_b + k]:
                out["a_start"].append(0)
                out["b_start"].append(0)
                out["length"].append(0)
                continue
            # guard p==0: t[-1::-1] would wrap to the reversed WHOLE
            # string and "extend" left past the document start
            rev_a = t_a[p_a - 1 :: -1] if p_a > 0 else ""
            rev_b = t_b[p_b - 1 :: -1] if p_b > 0 else ""
            left = common_prefix_len(rev_a, rev_b)
            right = common_prefix_len(t_a[p_a + k :], t_b[p_b + k :])
            out["a_start"].append(p_a - left)
            out["b_start"].append(p_b - left)
            out["length"].append(left + k + right)
        return pd.DataFrame(out)

    # Non-deterministic marker: the `length >= min_len` filter on the
    # result struct otherwise gets pushed below the star-expansion
    # projection and DUPLICATES this ArrowEvalPython node, running
    # extend twice per candidate pair.
    return extend.asNondeterministic()


def substring_pairs(
    df: DataFrame,
    min_len: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    max_df: int = 50,
) -> DataFrame:
    """Cross-document EXACT repeated substrings of ≥ ``min_len``
    characters: ``(a, b, a_start, b_start, length)`` rows, one per
    maximal shared span, 0-based offsets, ``a < b`` — substring-level
    dedup in the Lee et al. style ("Deduplicating Training Data Makes
    Language Models Better", ACL'22), where document-level near-dup
    misses the paragraph copied into an otherwise-novel page.

    Spark-first shape instead of their suffix array (a global
    sequential structure Spark cannot build incrementally):

    1. per-document winnowed rolling-hash fingerprints
       (:func:`_winnow_fingerprints_udf`; k-gram size ``k`` defaults to
       ``min_len // 2``, winnow window ``w = min_len − k + 1`` — any
       shared span of ≥ ``min_len`` chars shares a fingerprint, the
       winnowing theorem);
    2. candidate anchors by fingerprint equi-join (``a < b``), after a
       stop-fingerprint cap: hashes present in > ``max_df`` documents
       are dropped as boilerplate (license headers), bounding the join
       fan-out the way stop-words bound an inverted index — spans ONLY
       shared by hyper-common blocks are the declared recall trade;
    3. candidate-only verify: texts join in by id for candidate pairs
       alone, and :func:`_extend_match_udf` grows each anchor to its
       maximal equal span (hash collisions die here).  Anchors inside
       one span all extend to the same maximum, collapsed by distinct.

    Shuffles carry fingerprints and candidate ids; document bodies move
    only for candidate pairs (the embedding-LSH verify economics).
    """
    k, fingerprints = _fingerprints(min_len, k, id_col, text_col)
    # The sketch feeds THREE consumers (hot-hash count, both sides of the
    # candidate self-join); without sharing, Catalyst re-runs the text
    # scan + fingerprint UDF for each.  The shared frame is (id, hash,
    # pos) triples — sketch-sized, ~2/(w+1) rows per character, far
    # smaller than the corpus.
    fps = share(fingerprints(df))
    hot = F.broadcast(_hot_hashes(fps, id_col, max_df))
    cand = pairs(fps.join(hot, on="h", how="left_anti"), "h", id_col)
    return _span_verify(cand, df, df, id_col, text_col, k, min_len)


def _fingerprints(min_len: int, k: int | None, id_col: str, text_col: str):
    """``(k, fingerprints)``: the k-gram size (``min_len // 2`` unless
    given, at least 8) and a function from a document frame to its
    exploded (id, h, pos) winnowed-fingerprint sketch."""
    k = k or max(8, min_len // 2)
    if k > min_len:
        raise ValueError(f"k={k} must be <= min_len={min_len}")
    fp = _winnow_fingerprints_udf(k, min_len - k + 1)

    def fingerprints(frame: DataFrame) -> DataFrame:
        return (
            frame.select(F.col(id_col), fp(F.col(text_col)).alias("f"))
            .select(id_col, F.explode("f").alias("f"))
            .select(id_col, "f.h", "f.pos")
        )

    return k, fingerprints


def _hot_hashes(fps: DataFrame, id_col: str, max_df: int) -> DataFrame:
    """Stop fingerprints: hashes present in more than ``max_df``
    documents (boilerplate), dropped before the candidate join."""
    return (
        fps.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > max_df)
        .select("h")
    )


def _span_verify(
    cand: DataFrame,
    a_docs: DataFrame,
    b_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_len: int,
) -> DataFrame:
    """Candidate-only span verify: anchors ``cand`` (h, a, pos_a, b,
    pos_b, ...) join their texts by id (``a`` from ``a_docs``, ``b``
    from ``b_docs``) and :func:`_extend_match_udf` grows each anchor to
    its maximal equal span.  Keeps the spans of ≥ ``min_len`` chars as
    (a, b, [against,] a_start, b_start, length), distinct: anchors
    inside one span all extend to the same maximum."""
    extend = _extend_match_udf(k)
    keys = [c for c in cand.columns if c not in ("h", "pos_a", "pos_b")]
    return (
        cand.join(
            a_docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("__ta")),
            on="a",
        )
        .join(
            b_docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("__tb")),
            on="b",
        )
        .withColumn(
            "s",
            extend(
                F.col("__ta"), F.col("__tb"), F.col("pos_a"), F.col("pos_b")
            ),
        )
        .select(*keys, "s.a_start", "s.b_start", "s.length")
        .filter(F.col("length") >= min_len)
        .distinct()
    )


def incremental_substring_pairs(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    k: int | None = None,
    max_df: int = 50,
) -> DataFrame:
    """Incremental substring-level dedup: find duplicated spans between a
    NEW batch and an existing corpus without re-pairing history against
    itself — the growing-corpus shape, same economics as
    :func:`incremental_minhash_near_dups` (cost ∝ |new| × collision
    rate, never |corpus|²).  In production the history side of the
    candidate join is the PERSISTED (id, hash, pos) fingerprint sketch
    :func:`substring_pairs` builds (append-only: tonight's new
    fingerprints become tomorrow's history); here it derives from
    ``history_df`` for a self-contained call.

    Plan: winnow-fingerprint BOTH frames (the sketch is ~2/(w+1) rows
    per character — index-sized); the stop-fingerprint cap counts
    document frequency over the union of sketches (boilerplate is
    boilerplate whichever side it sits on); candidates are new×history
    anchor matches plus new×new (a < b);
    the verify joins text in for candidate pairs only and extends each
    anchor to its maximal literal span.  Output:
    ``(a, b, a_start, b_start, length, against)`` where ``a`` is always
    the new-batch id and ``against`` ∈ {'history', 'new'}.  The same id
    must not appear on both sides.
    """
    k, fingerprints = _fingerprints(min_len, k, id_col, text_col)
    # each sketch is shared by the hot-hash count and the candidate joins
    new_fps, hist_fps = share(fingerprints(new_df)), share(fingerprints(history_df))
    hot = F.broadcast(
        _hot_hashes(
            new_fps.select(id_col, "h").unionByName(hist_fps.select(id_col, "h")),
            id_col,
            max_df,
        )
    )
    cand = pairs(
        new_fps.join(hot, on="h", how="left_anti"),
        "h",
        id_col,
        hist_fps.join(hot, on="h", how="left_anti"),
    )
    return _span_verify(
        cand, new_df, history_df.unionByName(new_df), id_col, text_col, k, min_len
    )


def remove_substring_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply :func:`substring_pairs` output: CUT each duplicated span out
    of the higher-id document of its pair (the lower id keeps the only
    copy — the same lowest-id-wins rule as ``exact_dedup``, at span
    grain).  Returns ``df`` with ``text_col`` rewritten plus
    ``n_spans_removed`` / ``chars_removed`` accounting columns.

    Per-document span lists merge overlaps before cutting (two pairs can
    claim intersecting ranges of one document; cutting them naively
    would double-delete), then splice the survivors — a bounded
    ``collect_list`` per document (span counts are candidate-bounded,
    the same economics as the pair search) feeding one Arrow-batched
    rewrite.  Documents in no pair pass through untouched.

    One pass removes every DETECTED span, but cutting joins the text on
    either side of each cut, and that new junction can itself form a
    fresh ≥ min_len repeat with another document (Lee et al.'s suffix
    array sees all repeats in one structure and doesn't have this
    seam).  Callers needing a true fixpoint iterate search → remove;
    in practice junction repeats are rare and one extra pass settles.
    """
    doc_spans = (
        spans.select(
            F.col("b").alias(id_col),
            F.struct(
                F.col("b_start").alias("start"), F.col("length").alias("length")
            ).alias("span"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("span").alias("__spans"))
    )

    @F.pandas_udf("struct<text: string, n_spans: int, chars: int>")
    def cut(texts: pd.Series, span_lists: pd.Series) -> pd.DataFrame:
        out = {"text": [], "n_spans": [], "chars": []}
        for t, sl in zip(texts, span_lists):
            if sl is None or len(sl) == 0:
                # ArrowEvalPython runs the UDF for every row even under
                # F.when — no-span documents must pass through here too
                out["text"].append(t)
                out["n_spans"].append(0)
                out["chars"].append(0)
                continue
            ranges = sorted((s["start"], s["start"] + s["length"]) for s in sl)
            merged: list[list[int]] = []
            for lo, hi in ranges:
                if merged and lo <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], hi)
                else:
                    merged.append([lo, hi])
            pieces, cursor = [], 0
            for lo, hi in merged:
                pieces.append(t[cursor:lo])
                cursor = hi
            pieces.append(t[cursor:])
            out["text"].append("".join(pieces))
            out["n_spans"].append(len(merged))
            out["chars"].append(sum(hi - lo for lo, hi in merged))
        return pd.DataFrame(out)

    others = [c for c in df.columns if c != text_col]
    cleaned = (
        df.join(doc_spans, on=id_col, how="left")
        .withColumn(
            "__cut",
            F.when(
                F.col("__spans").isNotNull(),
                cut(F.col(text_col), F.col("__spans")),
            ),
        )
        .select(
            *others,
            F.coalesce(F.col("__cut.text"), F.col(text_col)).alias(text_col),
            F.coalesce(F.col("__cut.n_spans"), F.lit(0)).alias(
                "n_spans_removed"
            ),
            F.coalesce(F.col("__cut.chars"), F.lit(0)).alias("chars_removed"),
        )
    )
    return cleaned


# ------------------------------------------------------- semantic (SemDeDup)

def semantic_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = 32,
    refine_iters: int = 2,
) -> DataFrame:
    """Near-dup pairs (a < b, cosine ≥ threshold) via SemDeDup-style
    k-means cell blocking (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster the
    embedding space, then score pairs ONLY within a cluster cell.

    The 100 TB shape: cell assignment is a pure map against broadcast
    centroid literals (no shuffle of vectors beyond the one cell
    equi-join); the quadratic term drops from |N|² to Σ|cell|², and
    ``n_clusters`` scales WITH the corpus so the per-cell population —
    not the cluster count — is the bounded quantity.  Versus the
    hyperplane-LSH blocking of :func:`embedding_lsh_pairs`: k-means
    cells adapt to the actual density of the embedding space (LSH cuts
    it with data-oblivious random planes), at the price of the centroid
    build pass.  Approximation is recall-only: a true pair straddling a
    cell boundary is missed; identical vectors always share an argmax
    cell (ties broken by cell index, deterministically), so EXACT
    duplicates are never missed.  Verification is exact cosine in numpy
    over Arrow batches — precision matches `embedding_lsh_pairs`.
    """
    from kusuma_metamorph_etl_spark.operators.similarity import (
        assign_cells_np,
        ivf_build,
        n_cells_for,
    )

    if n_clusters is None:
        # derived sizing (√n — similarity.n_cells_for): the docstring's
        # "n_clusters scales WITH the corpus" made concrete.  A FIXED
        # cluster count lets per-cell occupancy grow linearly and the
        # Σ|cell|² verify quadratically (the sf1.0 probe read exponent
        # 0.63 at the old fixed 32).
        n_clusters = n_cells_for(df.count())  # bound: one row
    centroids = ivf_build(df, n_clusters, id_col, vec_col, refine_iters)
    # probes=1: every vector lives in exactly one cell, so the cell join
    # emits each candidate pair once — no distinct pass needed (unlike
    # multi-table LSH where a pair can collide in several tables).  The
    # assignment is the broadcast-numpy path (plan-literal centroids
    # cost a multi-second codegen compile at 32×64 — see
    # `assign_cells_np`).  A DataFrame self-join does NOT share the
    # branch: without share() both join sides run the cell-assignment
    # ArrowEvalPython over the full corpus.
    cells = share(assign_cells_np(df, centroids, "id", id_col, vec_col))
    cand = pairs(cells.withColumnRenamed("id_v", "vec"), "cell", "id")
    return cosine_verify(cand.drop("cell"), threshold)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = 32,
    refine_iters: int = 2,
) -> DataFrame:
    """SemDeDup: drop every row whose cosine to a LOWER-id row in the same
    k-means cell is ≥ threshold (greedy lowest-id-wins — the same declared
    winner rule as :func:`exact_dedup` / :func:`embedding_dedup`).  The
    cluster-blocked scale path of :func:`embedding_dedup`; like the LSH
    path, missed boundary pairs mean missed drops, so the result is always
    a SUPERSET of the exact survivors (gated in `dedup_semantic_err`)."""
    pairs = semantic_pairs(
        df, threshold, id_col, vec_col, n_clusters, refine_iters
    )
    dups = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(dups, on=id_col, how="left_anti")


def incremental_semantic_pairs(
    new_df: DataFrame,
    index_path: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup (the semantic member of the incremental
    family beside exact/MinHash/substring/CC): check a
    NEW embedding batch against a PERSISTED corpus index without ever
    re-pairing the corpus against itself.

    The index is :func:`similarity.write_ivf_index` output — the corpus
    cell-partitioned on disk plus the centroid sidecar.  Centroids stay
    FROZEN between refreshes: the new batch assigns to the frozen cells
    (broadcast-numpy map, no shuffle), and only the TOUCHED cells'
    partitions are read back (bounded by n_centroids cells, a static
    ``isin`` partition filter — at 100 TB the nightly batch touches a
    handful of cells and the scan prunes to those files).  Candidate
    pairs are (new × corpus-in-cell) plus (new × new in-cell);
    verification is :func:`cosine_verify`, as in :func:`semantic_pairs`,
    so cost scales with |new| × cell occupancy,
    not |corpus|².

    Same recall seam as the batch path, plus one incremental-specific
    caveat: a drifting embedding distribution degrades frozen-centroid
    cell balance over refreshes — the lifecycle is rebuild-on-skew
    (re-run ``write_ivf_index``), exactly like re-bucketing a table.
    Identical vectors still always share an argmax cell, so exact
    duplicates of corpus rows are never missed.

    Returns (new_id, match_id, against, cosine) with ``against`` in
    {'history', 'new'}; ids must be disjoint across the two sides.
    """
    import json

    from kusuma_metamorph_etl_spark.operators.similarity import (
        as_double,
        assign_cells_np,
    )

    spark = new_df.sparkSession
    centroids = json.loads(
        # bound: one row (the JSON centroid sidecar)
        spark.read.text(f"{index_path}/_ivf_centroids").first()["value"]
    )
    new = assign_cells_np(new_df, centroids, "id", id_col, vec_col).withColumnRenamed(
        "id_v", "vec"
    )
    # The assignment (a Python-worker pandas UDF) feeds four consumers:
    # the touched-cell collect, the history join, and both sides of the
    # within-batch self-join.  Measured A/B at sf0.1 (5 reps, warm):
    # recompute 1.22s median vs lazy-localCheckpoint 1.88s — AQE's
    # ReusedExchange already shares the self-join's shuffle, so the UDF
    # runs ~3x on the BOUNDED nightly batch, and a checkpoint would
    # materialize the batch's full vectors to disk to save narrow
    # Python work.  A caller whose batch is huge enough to flip that
    # trade persists `new_df` itself.
    # Pushing the touched cells as a static filter prunes the corpus
    # read to the touched partitions' files.
    touched = sorted(
        # bound: ≤ n_centroids cells
        r["cell"] for r in new.select("cell").distinct().collect()
    )
    corpus = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(touched))
        .select(
            F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("vec"), "cell"
        )
    )
    cand = pairs(new, "cell", "id", corpus).drop("cell")
    return cosine_verify(cand, threshold).select(
        F.col("a").alias("new_id"), F.col("b").alias("match_id"), "against", "cosine"
    )


def incremental_semantic_dedup(
    new_df: DataFrame,
    index_path: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """New-batch survivors under incremental SemDeDup: drop a new row on
    ANY corpus match (the standing corpus always wins — it is already
    deduped and published) or on a lower-id match within the batch (the
    family's lowest-id-wins rule).  The survivors are exactly what the
    refresh appends to the index — ``write_ivf_index`` over corpus ∪
    survivors, or an assignment-preserving append, both documented in
    :func:`incremental_semantic_pairs`."""
    pairs = incremental_semantic_pairs(
        new_df, index_path, threshold, id_col, vec_col
    )
    drops = (
        pairs.filter(F.col("against") == "history")
        .select(F.col("new_id").alias(id_col))
        .unionByName(
            pairs.filter(F.col("against") == "new").select(
                F.col("match_id").alias(id_col)
            )
        )
        .distinct()
    )
    return new_df.join(drops, on=id_col, how="left_anti")
