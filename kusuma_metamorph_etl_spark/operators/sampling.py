"""[EXT] Reproducible sampling operators for training-data pipelines.

``DataFrame.sample`` is Bernoulli per-partition: the selected rows change
whenever partitioning, Spark version, or seed plumbing changes — useless
for a 100 TB pipeline that must re-produce the same held-out split across
reruns and engines.  The deterministic variants here key the decision on a
content hash (md5 of the row key), so the same row always lands on the
same side of the split, on any cluster, in any engine that has md5 —
which also makes them oracle-checkable in ANSI SQL.

Every sampler is one of three draws over one digest, and keeps only its
own rule:

* the digest :func:`_digest` is ``md5(seed || '|' || key)`` — the SQL
  oracle writes ``md5('42|' || key)``; :func:`_hex8` reads its first 8
  hex chars as an unsigned 32-bit integer (uniforms, folds, buckets);
* a FILTER on a digest expression (rate, stratified, split, temperature,
  fractional epochs) is narrow and whole-stage-codegen'd, but NOT
  parquet-pushable (it filters a computed value), so at scale pair it
  with partition pruning on real columns;
* :func:`_bottom_k` keeps the k smallest scores — Spark runs
  ``orderBy(score).limit(k)`` as TakeOrderedAndProject (per-partition
  k-heaps merged on the driver, no global sort);
* :func:`_quota_draw` keeps the first ``quota`` rows per group in
  (digest, key) order — one ``row_number`` window, one group-keyed
  shuffle.

NULL keys follow one rule, fixed by the digest: a NULL key has no
content to hash, so its digest is NULL (``concat``, like SQL ``||``;
``concat_ws`` would skip the NULL and give every NULL-key row the digest
of the bare seed).  Filters therefore drop a NULL-key row, the bottom-k
and quota draws never draw it, :func:`kfold_assign` gives it a NULL
fold, and :func:`split_train_holdout` sends it to train so the split
stays exhaustive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share


def _digest(key: Column, seed: str) -> Column:
    """32-hex md5 of ``seed|key``; NULL for a NULL key."""
    return F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string")))


def _hex8(digest: Column) -> Column:
    """First 8 hex chars of an md5 digest as a long in [0, 2^32)."""
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")


def _bottom_k(df: DataFrame, score: Column, k: int, *tiebreak) -> DataFrame:
    """The ``k`` rows with the smallest non-NULL ``score`` (ties broken
    by ``tiebreak``); a NULL score is never drawn."""
    # NULLs sort last and are dropped from the k drawn rows: a filter
    # ahead of the sort would be pushed below the projection and hash
    # every input row twice
    return (
        df.withColumn("__score", score)
        .orderBy(F.col("__score").asc_nulls_last(), *tiebreak)
        .limit(k)
        .filter(F.col("__score").isNotNull())
        .drop("__score")
    )


def _quota_draw(
    df: DataFrame, group_cols: list[str], key: Column, seed: str, quota: Column
) -> DataFrame:
    """Rows ranked ``<= quota`` within their group in (digest, key)
    order; NULL-key rows have no digest and are never drawn."""
    w = Window.partitionBy(*group_cols).orderBy(_digest(key, seed), key)
    return (
        df.filter(key.isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def _group_sizes(df: DataFrame, group_col: str) -> tuple[DataFrame, DataFrame]:
    """``df`` without NULL groups, and its per-group count ``__n`` with
    the smallest group's count ``__nmin`` broadcast beside every group.

    NULL groups are dropped AND left out of the minimum: a handful of
    unlabeled rows must not masquerade as the smallest group and shrink
    every real group's rate or quota to their count (and the equi-joins
    that attach the result could not match them anyway)."""
    kept = df.filter(F.col(group_col).isNotNull())
    counts = kept.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    return kept, counts.crossJoin(F.broadcast(nmin))


def rate_threshold(rate: float) -> str:
    """Hex-string threshold for ``hash_bucket < threshold`` at ~``rate``.
    Rate 1.0 needs a string ABOVE every 2-hex-char bucket — "g" sorts
    after "ff" in any codepoint collation (3-char "100" would sort
    *before* "ab" and silently keep nothing).

    The scheme is quantized to 1/256ths.  A positive rate below the
    granularity floor (``round(rate*256) == 0``, i.e. rate < ~0.2%)
    raises instead of silently returning the keep-nothing threshold —
    a 0.1% holdout draw on a 100 TB corpus returning ZERO rows with no
    error is exactly the failure a reproducible sampler must not have.
    Tiny exact draws belong to :func:`fixed_size_sample`.
    """
    n = round(max(0.0, min(1.0, rate)) * 256)
    if n == 0 and rate > 0.0:
        raise ValueError(
            f"rate {rate} is below the 1/256 granularity floor of the "
            "2-hex-char bucket scheme and would keep zero rows; use "
            "fixed_size_sample for exact small draws"
        )
    if n >= 256:
        return "g"
    return format(n, "02x")


def hash_bucket(key: Column, seed: str = "42") -> Column:
    """First byte of md5(seed|key) as a lowercase 2-hex-char string.

    A uniform 256-way bucket usable for sampling (``< threshold``) and
    train/validation splits (disjoint hex ranges).  String comparison on
    the hex prefix is engine-portable (identical in Spark and ANSI SQL);
    no integer conversion needed.
    """
    return F.substring(_digest(key, seed), 1, 2)


def deterministic_sample(
    df: DataFrame, key: Column, rate: float = 0.1, seed: str = "42"
) -> DataFrame:
    """Keep rows whose hash bucket falls below ``round(rate*256)`` — a
    reproducible ~``rate`` sample keyed on content, not partition layout."""
    return df.filter(hash_bucket(key, seed) < F.lit(rate_threshold(rate)))


def fixed_size_sample(
    df: DataFrame, key: Column, k: int, seed: str = "42"
) -> DataFrame:
    """EXACTLY ``k`` rows (fewer only if the input is smaller), sampled
    uniformly and reproducibly: the k smallest full md5(seed|key) values.

    The rate-based sampler gives a binomially-varying count; budgeted jobs
    (eval sets, human-review batches) need an exact size.  Hashing then
    taking the global bottom-k (:func:`_bottom_k`) is a distributed
    uniform draw with the same content-keyed determinism as
    :func:`deterministic_sample`.  Ties on the full 32-hex digest require
    identical (seed, key) — break them with a unique key if the key
    column can repeat.
    """
    return _bottom_k(df, _digest(key, seed), k)


def stratified_sample(
    df: DataFrame,
    key: Column,
    stratum: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "42",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample boilerplate
    sources hard, keep rare high-quality sources whole) — the quota knob
    of training-data mixing.  Same hash-bucket mechanism, one threshold
    per stratum via a CASE chain, so it stays a narrow codegen'd filter."""
    threshold: Column = F.lit(rate_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        threshold = F.when(stratum == value, F.lit(rate_threshold(rate))).otherwise(threshold)
    return df.filter(hash_bucket(key, seed) < threshold)


def split_train_holdout(
    df: DataFrame, key: Column, holdout: float = 0.1, seed: str = "42"
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive (train, holdout) split on the same hash —
    the reproducible-split primitive for eval-set hygiene at scale.  A
    NULL-key row has no bucket and goes to train."""
    hold = hash_bucket(key, seed) < F.lit(rate_threshold(holdout))
    return df.filter(~F.coalesce(hold, F.lit(False))), df.filter(hold)


def deterministic_shuffle(
    df: DataFrame,
    seed: str = "42",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Reproducible global pseudo-random ordering for training-data runs:
    sort by :func:`row_sort_key` (md5 over the seed plus one fixed-width
    per-column digest — see there for the collision story), emitted as
    ``shuffle_key``.

    ``DataFrame.orderBy(rand(seed))`` is partition-layout-dependent (same
    trap as ``sample``); a content-hash sort key reproduces the same order
    on any cluster, any partitioning, any md5-capable engine.  The sort is
    Spark's ordinary range-partitioned global sort — parallel, no single
    task — and downstream writers preserve it per output file.  Different
    seeds give statistically independent permutations (epoch reshuffling:
    seed per epoch).
    """
    key = row_sort_key(str(seed), key_cols or df.columns)
    return df.withColumn("shuffle_key", key).orderBy("shuffle_key")


def interleave_sources(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    key: Column,
    seed: str = "42",
) -> DataFrame:
    """Deterministic mixture interleaving — the training-data "data mix"
    order: every prefix of the output contains sources in proportion to
    ``weights`` (stride scheduling: a source with weight w occupies
    positions (k − 0.5)/w for k = 1, 2, …, so doubling a weight doubles a
    source's density anywhere in the stream).  The position is emitted
    as ``mix_pos``.

    Within each source, rows order by the content-hash digest (same
    partition-invariant determinism as :func:`deterministic_shuffle` —
    reshuffling the cluster cannot change the curriculum).  Sources
    missing from ``weights`` are dropped (weight 0), declared.

    Tie contract: different sources CAN emit float-equal positions
    (equal weights always do: both emit (k−0.5)/w at every k; unequal
    ones can too, e.g. 0.3 and 0.1 both hit 5.0), so a sort on
    ``mix_pos`` alone leaves tie order to the shuffle.  The total order
    is therefore FOLDED INTO THE DATA as ``mix_key`` — a single
    ``struct(mix_pos, source)`` column where ``orderBy("mix_key")`` alone
    is fully deterministic (Spark compares structs field-by-field).  Two
    fields suffice for totality: within a source, ``row_number`` makes
    every position distinct, so any float-equal pair differs in
    ``source_col``.  ``mix_pos`` stays a plain double for prefix
    filtering and the SQL oracle; the mixture property itself holds
    under any tie order.

    Plan: one window rank per source partition + pure arithmetic; the
    global sort on ``mix_key`` is Spark's ordinary range-partitioned
    sort.  Emitting the position rather than materializing the order
    keeps the operator composable (filter a prefix for a token budget,
    then sort once at write time).
    """
    w = Window.partitionBy(source_col).orderBy(_digest(key, seed), key)
    for src, wt in weights.items():
        if float(wt) < 0.0:
            raise ValueError(
                f"interleave_sources: negative weight {wt!r} for source "
                f"{src!r}"
            )
    # weight-0 sources are DROPPED (documented), same as sources absent
    # from the map — they must not reach the (rank-0.5)/w division,
    # which ANSI mode faults on.  All-zero / empty maps leave the
    # catch-all NULL weight, so every row filters out: an empty result
    # with the declared output schema, not a NoneType crash.
    weight_expr = F.lit(None).cast("double")
    for src, wt in sorted(weights.items(), reverse=True):
        if float(wt) > 0.0:
            weight_expr = F.when(
                F.col(source_col) == src, F.lit(float(wt))
            ).otherwise(weight_expr)
    rank = F.row_number().over(w)
    return (
        df.withColumn("__w", weight_expr)
        .filter(F.col("__w").isNotNull())
        .withColumn("mix_pos", (rank - F.lit(0.5)) / F.col("__w"))
        .withColumn("mix_key", F.struct(F.col("mix_pos"), F.col(source_col)))
        .drop("__w")
    )


def row_sort_key(seed: str, key_cols: list[str]) -> Column:
    """Collision-safe deterministic sort key: md5 over the seed plus one
    fixed-width md5 digest PER key column.

    A naive ``md5(concat_ws('|', seed, *cols))`` collides for distinct
    rows two ways: ``concat_ws`` silently skips nulls (('x', NULL) ==
    (NULL, 'x')) and a '|' inside a value injects (('a|b','c') ==
    ('a','b|c')).  Fixed 32-char digest blocks admit neither; nulls take
    a 32-dash sentinel no real digest can equal.  Oracle mirror (non-null
    single key): ``md5(seed || md5(CAST(key AS VARCHAR)))``.
    """
    parts = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("-" * 32))
        for c in key_cols
    ]
    return F.md5(F.concat(F.lit(seed), *parts))


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str,
    seed: str = "42",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Assign each document to a fixed-token-budget training pack,
    emitted as ``pack_id``.

    Documents are laid out in the deterministic shuffle order
    (:func:`row_sort_key`, see :func:`deterministic_shuffle`) and cut into packs
    by prefix sum: ``pack_id = floor((tokens before this doc) / budget)``
    — the streaming-pack rule, where a pack may overflow by at most one
    document (real pipelines then truncate/split the straddler).  The
    result is a pure function of (data, seed, budget): identical on any
    partitioning and reproducible in ANSI SQL.

    Scale shape — a global running sum WITHOUT a single-task window:
    bucket rows by deterministic quantile bounds over the numeric prefix
    of the sort hash (`operators/partitioning.py`), cumulative-sum within
    buckets, prefix-sum the ≤P per-bucket token totals for global
    offsets.  One full-width shuffle (the per-bucket window), one ≤P-row
    broadcast.  Ordering note: buckets cut on the numeric value of the
    first 15 hex chars; rows tying on that prefix share a bucket, and the
    within-bucket sort uses the full 32-char hash — so (bucket, hash) is
    exactly global hash order.
    """
    from kusuma_metamorph_etl_spark.operators.partitioning import (
        bucket_offsets,
        quantile_bucket,
    )

    if budget <= 0:
        # budget 0 would otherwise die mid-execution with a cryptic ANSI
        # DIVIDE_BY_ZERO, and a negative budget emits negative pack ids
        raise ValueError(f"pack_sequences: budget must be positive, got {budget}")

    spark = df.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    h = row_sort_key(str(seed), key_cols or df.columns)
    keyed = df.withColumn("__h", h).withColumn(
        # 15 hex chars = 60 bits: exact as double (< 2^53 would be safer,
        # but bucket bounds only need monotone consistency with the string
        # order, which fixed-width lowercase hex gives at any precision).
        "__hnum",
        F.conv(F.substring(F.col("__h"), 1, 15), 16, 10).cast("double"),
    )
    # md5 hashes are uniform, so the bucket count only collapses for tiny
    # inputs — where the single-bucket window is one small task anyway.
    bucketed, _ = quantile_bucket(keyed, "__hnum", num_parts)

    in_bucket = (
        Window.partitionBy("__bkt")
        # token_col as the secondary sort: with key_cols a SUBSET of the
        # row (duplicate key values), rows tying on the full hash would
        # otherwise take arbitrary relative order, and so would their
        # cumulative sums and pack boundaries.  Rows identical in BOTH
        # are interchangeable: any order yields the same prefix sums.
        .orderBy("__h", token_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bucketed.withColumn(
        "__cum", F.sum(F.col(token_col)).over(in_bucket)
    )
    offsets = bucket_offsets(bucketed, "__bkt", F.col(token_col), ascending=True)

    return (
        local.join(F.broadcast(offsets), on="__bkt")
        .withColumn(
            "pack_id",
            F.floor(
                (F.col("__before") + F.col("__cum") - F.col(token_col))
                / F.lit(budget)
            ).cast("long"),
        )
        .drop("__bkt", "__h", "__hnum", "__cum", "__before", "__total")
    )


def group_fixed_size_sample(
    df: DataFrame,
    group_cols: list[str],
    key: Column,
    k: int,
    seed: str = "42",
) -> DataFrame:
    """At most ``k`` rows PER GROUP (exactly ``k`` when the group has
    that many), drawn uniformly and reproducibly — the balanced-quota
    twin of :func:`fixed_size_sample` (global k) and
    :func:`stratified_sample` (rate-based): training mixes that need "k
    examples from every source/language/domain" regardless of group
    skew.

    :func:`_quota_draw` with one quota for every group: partition-
    invariant (the digest depends on (seed, key), never on layout), one
    shuffle keyed on the group columns.  Per-group sort cost is the
    usual window price; groups far hotter than their peers sort more
    data — at extreme skew, pre-filter with a rate-based sample slightly
    above k/|group| and top up, the same two-pass trick as
    percent_rank's quantile-bucket path.
    """
    return _quota_draw(df, group_cols, key, seed, F.lit(k))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    total: int,
    key: Column,
    seed: str = "42",
) -> DataFrame:
    """Sample to a TARGET MIXTURE: ``round(total * w_g)`` rows from each
    named group (fewer only when the group is smaller), drawn by content
    hash order — the domain/source-mixture quota step of training-data
    assembly (The Pile's per-source epochs, DoReMi's domain weights):
    the caller states the mix, the sampler materializes it.

    Groups absent from ``weights`` contribute NOTHING (an explicit mix
    is a whitelist).  Mechanism = :func:`_quota_draw` with a per-group
    quota resolved by a CASE chain on the group value — partition-
    invariant, one group-keyed shuffle, and SQL-replayable verbatim.
    Quotas are rounded half-up from ``total * w_g`` so the stated
    weights, not float banker's rounding, decide the draw."""
    quotas = {
        g: int(total * w + 0.5) for g, w in weights.items()
    }
    # Prune unnamed/zero-quota groups BEFORE the window: the whitelist
    # is a pushdown-able scan filter, so at corpus scale only the named
    # groups' rows ever reach the group-keyed sort shuffle (a 5-domain
    # mix over millions of domains would otherwise shuffle everything
    # just to drop it at rn <= 0).
    named = sorted(g for g, k in quotas.items() if k > 0)
    pruned = df.filter(F.col(group_col).isin(named)) if named else df.limit(0)
    quota: Column = F.lit(0)
    for value in named:
        quota = F.when(F.col(group_col) == value, F.lit(quotas[value])).otherwise(quota)
    return _quota_draw(pruned, [group_col], key, seed, quota)


def hash_unit(key: Column, seed: str = "42") -> Column:
    """md5-derived uniform double in [0, 1) — the cross-engine analog of
    ``rand()`` keyed on content: first 8 hex chars of md5(seed|key) as an
    integer over 2^32.  Use when the keep-rate is COMPUTED in-query (the
    hex-string `hash_bucket` needs a Python-side threshold constant)."""
    return _hex8(_digest(key, seed)) / F.lit(float(2**32))


def temperature_sample(
    df: DataFrame,
    source_col: str,
    key: Column,
    alpha: float = 0.5,
    seed: str = "42",
) -> DataFrame:
    """Temperature-weighted source rebalancing — the multilingual /
    multi-source mixing rule (sampling ∝ n^α, UNIMAX-style): keep-rate
    r_i = (n_i / n_min)^(α−1), so the SMALLEST source is kept whole and
    larger sources are downsampled toward the α-tempered mix.  α = 1
    keeps natural proportions (all rates 1); α = 0 equalizes expected
    source counts; 0 < α < 1 interpolates.

    The decision is content-keyed (`hash_unit`), so the sample is
    partition- and engine-independent; rates are rounded to 9 dp before
    comparison so last-ulp ``pow`` differences between libm
    implementations cannot flip a row.  NULL sources are dropped
    (:func:`_group_sizes`).  Plan: one tiny per-source count agg +
    broadcast join + narrow codegen'd filter — no shuffle of the fact
    side.  Adds ``keep_rate`` for audit.
    """
    df, sizes = _group_sizes(df, source_col)
    rates = sizes.select(
        source_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.pow(
                    F.col("__n").cast("double") / F.col("__nmin"),
                    F.lit(alpha - 1.0),
                ),
            ),
            9,
        ).alias("keep_rate"),
    )
    return df.join(F.broadcast(rates), on=source_col).filter(
        hash_unit(key, seed) < F.col("keep_rate")
    )


def kfold_assign(
    df: DataFrame, key: Column, k: int = 5, seed: str = "42"
) -> DataFrame:
    """Deterministic k-fold assignment as ``fold = md5-int(seed|key) % k``
    — every row lands in the same fold on any cluster, any partitioning,
    any md5-capable engine (the cross-validation / sharded-eval split
    primitive; folds are disjoint and exhaustive over non-NULL keys, and
    a NULL key gets a NULL fold).  Narrow column expression, no shuffle."""
    if k < 1:
        # k=0 would otherwise die mid-execution with a cryptic ANSI
        # REMAINDER_BY_ZERO; negative k would emit negative folds
        raise ValueError(f"kfold_assign: k must be >= 1, got {k}")
    return df.withColumn("fold", (_hex8(_digest(key, seed)) % k).cast("int"))


def balance_classes(
    df: DataFrame,
    label_col: str,
    key: Column,
    max_ratio: float = 1.0,
    seed: str = "42",
) -> DataFrame:
    """Class rebalancing by downsampling: every label keeps at most
    ``max_ratio × |minority class|`` rows (deterministic content-hash
    draw), so no class outnumbers the rarest by more than the declared
    ratio — the classifier-training-mix fix for skewed label
    distributions (the UNDERSAMPLING complement of
    :func:`temperature_sample`'s source reweighting).

    Plan: the label sizes of :func:`_group_sizes` (a tiny label-keyed
    count and a broadcast single-row minimum), then :func:`_quota_draw`
    with the PER-LABEL quota joined in — one label-keyed window shuffle
    over the data, everything else label-cardinality work.  NULL labels
    are DROPPED and excluded from the quota computation: filter or fill
    labels first; silently training on an unlabeled class is the bug
    this refuses to have.
    """
    if max_ratio <= 0:
        raise ValueError(f"max_ratio must be positive, got {max_ratio}")
    labeled, sizes = _group_sizes(df, label_col)
    quotas = sizes.select(
        label_col,
        F.floor(F.col("__nmin") * max_ratio).cast("long").alias("__quota"),
    )
    joined = labeled.join(F.broadcast(quotas), on=label_col)
    return _quota_draw(joined, [label_col], key, seed, F.col("__quota")).drop("__quota")


def merge_samples(
    samples: DataFrame, key: Column, k: int, seed: str = "42"
) -> DataFrame:
    """Merge per-slice :func:`fixed_size_sample` draws into the corpus-
    wide k-sample WITHOUT rescanning raw data — the uniform-sample
    member of the mergeable-sketch family (`operators/sketches.py`).

    Why it is exact, not approximate: bottom-k of per-slice bottom-k's
    is bottom-k.  Each of the global k smallest hashes has fewer than k
    smaller hashes in the whole corpus, hence in its own slice, so it
    survives its slice's bottom-k — the union of per-slice samples
    provably contains the global sample, and re-taking bottom-k over it
    recovers it EXACTLY (==direct-draw is the driver gate).  Build a
    k-sample per day/month at ingest, answer "uniform sample of any date
    range" by merging sample rows — k × slices rows, never the corpus.
    """
    return fixed_size_sample(samples, key, k, seed)


def repeat_epochs(
    df: DataFrame,
    factor: float,
    key: Column,
    seed: str = "42",
) -> DataFrame:
    """Materialize FRACTIONAL training epochs deterministically: each row
    appears ``floor(factor)`` times, plus one more for the
    content-hash-chosen ``frac(factor)`` share — so ``factor=2.3`` emits
    every document twice and a reproducible ~30% of them a third time.

    This is the repetition half of data mixing (the weights half is
    :func:`temperature_sample`): when a curated source should be seen
    ~2.3x per epoch, the pipeline must EMIT those copies — and which
    documents get the extra pass must be partition- and engine-invariant
    or every re-run trains on a different corpus.  Hash-selected rows
    for the fractional copy are exactly :func:`deterministic_sample`'s
    draw, so the same documents repeat on any cluster.

    ``epoch_copy`` numbers the copies 1..n (distinct rows for downstream
    shuffling — feed :func:`deterministic_shuffle` with a
    (key, epoch_copy) sort key so copies spread across the epoch).
    ``factor < 1`` degrades to plain subsampling (0 base copies);
    negative factors raise.  Plan: one narrow projection + explode —
    fan-out ∝ factor, no shuffle, no driver state.
    """
    if factor < 0:
        raise ValueError(f"repeat_epochs: negative factor {factor}")
    base = int(factor)
    frac = round(factor - base, 9)
    extra = (
        F.when(hash_unit(key, seed) < F.lit(frac), 1).otherwise(0)
        if frac > 0
        else F.lit(0)
    )
    n_copies = F.lit(base) + extra
    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .withColumn("epoch_copy", F.explode(F.sequence(F.lit(1), F.col("__n_copies"))))
        .drop("__n_copies")
    )


def weighted_sample(
    df: DataFrame, key: Column, weight: Column, k: int, seed: str = "42"
) -> DataFrame:
    """``k`` rows (fewer only if the eligible input is smaller) drawn
    WITHOUT replacement with probability proportional to ``weight`` —
    Efraimidis–Spirakis A-ES (IPL 2006): each row scores ``-ln(u)/w``
    with ``u`` a content-keyed uniform from :func:`hash_unit`'s md5
    construction, and the k SMALLEST scores win (:func:`_bottom_k`).

    The importance-sampling knob of the mixing family: upweight rare
    high-quality sources at draw time instead of duplicating rows.  Same
    execution shape as :func:`fixed_size_sample` and the same
    mergeability argument (a global bottom-k row survives its slice's
    bottom-k), so per-slice draws merge exactly.  Content-keyed
    determinism: same (seed, key, weight) → same sample on any
    partitioning or engine (the driver oracle replays the md5 + ln
    arithmetic in SQL).

    Rows with NULL or non-positive weight, and rows with a NULL ``key``,
    score NULL and are EXCLUDED (zero/undefined inclusion probability).
    ``u`` is offset to ``(h + 0.5) / 2^32`` so it is never exactly 0
    (ln(0) = -inf would make the row unsampleable regardless of weight);
    the offset is exact in double, so ``u`` is bit-identical to the
    oracle's ``(h + 0.5) / 4294967296``.
    """
    w = weight.cast("double")
    u = hash_unit(key, seed) + F.lit(0.5 / 2**32)
    return _bottom_k(df, F.when(w > 0, -F.ln(u) / w), k, key)


# --------------------------------------------------------- DSIR resampling

def hashed_bucket(token: Column, n_buckets: int) -> Column:
    """Engine-agnostic feature-hash bucket for a token: first 8 hex chars
    of md5 as an integer, mod ``n_buckets`` — the same md5 construction
    as :func:`hash_unit`, so the oracle replays it as
    ``('0x' || substr(md5(w), 1, 8))::BIGINT % n`` (always non-negative:
    the hash is an unsigned 32-bit value before the mod)."""
    return F.pmod(_hex8(F.md5(token)), F.lit(n_buckets))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public
    method): fit two add-one-smoothed hashed bag-of-words models, p over
    the TARGET corpus and q over the RAW corpus, then score every raw
    document ``log w(x) = Σ_b c_b(x) · (ln p_b − ln q_b)`` over its
    hashed-token counts.  Returns ``(id_col, dsir_logw)`` for every raw
    document (token-less documents score the empty product, logw = 0).

    Scale shape: two token-count aggregations (one shuffle each, counts
    partial-aggregate map-side), a ≤ ``n_buckets``-row log-ratio table
    that BROADCASTS to the per-document scoring join, and one final
    groupBy(id).  Nothing pairwise, nothing driver-side; the log-ratio
    table is bounded by the bucket count, not the corpus."""
    from kusuma_metamorph_etl_spark.operators.text import words

    def bucket_counts(df: DataFrame, *keys: str) -> DataFrame:
        toks = df.select(
            *[F.col(k) for k in keys],
            F.explode(words(F.col(text_col))).alias("__w"),
        )
        return toks.select(
            *[F.col(k) for k in keys],
            hashed_bucket(F.col("__w"), n_buckets).alias("__bucket"),
        ).groupBy(*keys, "__bucket").agg(F.count(F.lit(1)).alias("__c"))

    # Tokenize each corpus ONCE: the per-doc raw counts are the finest
    # grain, so the global raw distribution ROLLS UP from them (sum over
    # docs is exactly the global count); both total-token scalars roll
    # up from the ≤n_buckets-row count frames.  Without the two shares
    # the plan re-runs the raw explode+hash pipeline three times and the
    # target pipeline twice.
    raw_doc = share(bucket_counts(raw, id_col))
    tcnt = share(bucket_counts(target).withColumnRenamed("__c", "__tc"))
    rcnt = raw_doc.groupBy("__bucket").agg(F.sum("__c").alias("__rc"))
    ttot = tcnt.agg(F.sum("__tc").alias("__tt"))
    rtot = rcnt.agg(F.sum("__rc").alias("__rt"))
    logr = (
        tcnt.join(rcnt, "__bucket", "full_outer")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "__bucket",
            (
                F.log(
                    (F.coalesce(F.col("__tc"), F.lit(0)) + 1.0)
                    / (F.col("__tt") + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.coalesce(F.col("__rc"), F.lit(0)) + 1.0)
                    / (F.col("__rt") + F.lit(float(n_buckets)))
                )
            ).alias("__logr"),
        )
    )
    doc_logw = (
        raw_doc.join(F.broadcast(logr), "__bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("__c") * F.col("__logr")).alias("dsir_logw"))
    )
    return (
        raw.select(id_col)
        .join(doc_logw, id_col, "left")
        .select(
            id_col, F.coalesce("dsir_logw", F.lit(0.0)).alias("dsir_logw")
        )
    )


def log_weighted_sample(
    df: DataFrame, key: Column, log_weight: Column, k: int, seed: str = "42"
) -> DataFrame:
    """:func:`weighted_sample` in the LOG domain — the Gumbel-top-k form
    DSIR itself uses: A-ES keeps the k smallest ``-ln(u)/w``, and
    ``ln`` is monotone on that positive score, so ordering by
    ``ln(-ln u) − ln w`` draws the identical sample while never
    materializing ``w = exp(log_weight)`` (which overflows for the
    corpus-scale log-ratio sums importance resampling produces).
    Same content-keyed uniform, same bottom-k shape, same NULL exclusion
    and per-slice mergeability as :func:`weighted_sample`."""
    u = hash_unit(key, seed) + F.lit(0.5 / 2**32)
    return _bottom_k(df, F.ln(-F.ln(u)) - log_weight.cast("double"), k, key)
