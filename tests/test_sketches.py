"""Histogram sketch tests: merge associativity, quantile accuracy bound,
and edge-bin clamping."""

from __future__ import annotations

from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import sketches


def _vals(spark, values, extra=None):
    rows = [(v,) if extra is None else (v, extra) for v in values]
    schema = "v double" if extra is None else "v double, g string"
    return spark.createDataFrame(rows, schema)


def test_merge_equals_sketch_of_union(spark):
    """Sketching two shards then merging must equal sketching the union —
    the mergeability contract, exactly (bin counts are integers)."""
    a = _vals(spark, [float(i) for i in range(0, 500)])
    b = _vals(spark, [float(i) for i in range(500, 1000)])
    both = _vals(spark, [float(i) for i in range(0, 1000)])
    sk_a = sketches.histogram_sketch(a, "v", 0.0, 1000.0, 50)
    sk_b = sketches.histogram_sketch(b, "v", 0.0, 1000.0, 50)
    merged = sketches.merge_histograms(sk_a.unionByName(sk_b))
    direct = sketches.histogram_sketch(both, "v", 0.0, 1000.0, 50)
    as_map = lambda df: {r["bin"]: r["n"] for r in df.collect()}  # noqa: E731
    assert as_map(merged) == as_map(direct)


def test_quantiles_within_bin_width(spark):
    """Uniform 0..9999: every estimated quantile must sit within one bin
    width of the true value."""
    vals = [float(i) for i in range(10_000)]
    df = _vals(spark, vals)
    n_bins = 200
    width = 10_000.0 / n_bins
    sk = sketches.histogram_sketch(df, "v", 0.0, 10_000.0, n_bins)
    qs = [0.1, 0.5, 0.9, 0.99]
    got = {
        r["q"]: r["est"]
        for r in sketches.histogram_quantiles(
            sk, qs, 0.0, 10_000.0, n_bins
        ).collect()
    }
    for q in qs:
        assert abs(got[q] - q * 10_000.0) <= width, (q, got[q])


def test_out_of_range_values_clamp_to_edge_bins(spark):
    df = _vals(spark, [-50.0, 0.5, 99.5, 500.0])
    sk = sketches.histogram_sketch(df, "v", 0.0, 100.0, 10)
    counts = {r["bin"]: r["n"] for r in sk.collect()}
    assert counts[0] == 2  # -50 clamped down, 0.5 in range
    assert counts[9] == 2  # 99.5 in range, 500 clamped up


def test_cms_never_undercounts_and_merge_equals_union(spark):
    vals = ["a"] * 500 + ["b"] * 300 + ["c"] * 10
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    half1 = spark.createDataFrame([(v,) for v in vals[:400]], "v string")
    half2 = spark.createDataFrame([(v,) for v in vals[400:]], "v string")
    merged = sketches.merge_cms(
        sketches.cms_sketch(half1, "v").unionByName(
            sketches.cms_sketch(half2, "v")
        )
    )
    direct = sketches.cms_sketch(df, "v")
    as_map = lambda d: {(r["d"], r["slot"]): r["n"] for r in d.collect()}  # noqa: E731
    assert as_map(merged) == as_map(direct)

    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("zzz",)], "v string")
    est = {
        r["v"]: r["est"]
        for r in sketches.cms_estimate(merged, probes, "v").collect()
    }
    exact = {"a": 500, "b": 300, "c": 10, "zzz": 0}
    n = len(vals)
    for v, true_n in exact.items():
        assert est[v] >= true_n, v  # CMS never undercounts
        assert est[v] <= true_n + (2.718281828 / 256) * n + 1, v


def test_auto_bounds_quantiles_within_bin_width(spark):
    """Omitting lo/hi derives them via one min/max pass; quantile accuracy
    holds at the same ≤1-bin-width gate as the explicit-bounds path."""
    vals = [float(i) for i in range(10_000)]
    df = _vals(spark, vals)
    n_bins = 200
    lo, hi = sketches.derive_bounds(df, "v")
    assert lo == 0.0 and hi == 9999.0
    width = (hi - lo) / n_bins
    sk = sketches.histogram_sketch(df, "v", n_bins=n_bins)  # bounds omitted
    got = {
        r["q"]: r["est"]
        for r in sketches.histogram_quantiles(sk, [0.1, 0.5, 0.9], lo, hi, n_bins).collect()
    }
    for q in [0.1, 0.5, 0.9]:
        assert abs(got[q] - q * 9999.0) <= width, (q, got[q])


def test_nulls_excluded_and_degenerate_bounds(spark):
    """NULLs must not be counted as lo-edge mass (ADVICE r6), and a
    single-distinct-value column still yields usable auto bounds."""
    df = spark.createDataFrame(
        [(None,), (0.5,), (None,), (99.5,)], "v double"
    )
    sk = sketches.histogram_sketch(df, "v", 0.0, 100.0, 10)
    counts = {r["bin"]: r["n"] for r in sk.collect()}
    assert counts == {0: 1, 9: 1}  # the two nulls contribute nothing

    const = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    lo, hi = sketches.derive_bounds(const, "v")
    assert lo == 7.0 and hi == 8.0  # widened so width > 0
    got = sketches.histogram_quantiles(
        sketches.histogram_sketch(const, "v", lo, hi, 10), [0.5], lo, hi, 10
    ).collect()[0]["est"]
    assert abs(got - 7.0) <= (hi - lo) / 10

    import pytest

    with pytest.raises(ValueError, match="no non-null"):
        sketches.derive_bounds(
            spark.createDataFrame([(None,)], "v double"), "v"
        )


def test_keyed_quantiles_independent(spark):
    lo = _vals(spark, [float(i) for i in range(100)], extra="lo")
    hi = _vals(spark, [float(i) for i in range(900, 1000)], extra="hi")
    sk = sketches.histogram_sketch(
        lo.unionByName(hi), "v", 0.0, 1000.0, 100, keys=["g"]
    )
    got = {
        (r["g"], r["q"]): r["est"]
        for r in sketches.histogram_quantiles(
            sk, [0.5], 0.0, 1000.0, 100, keys=["g"]
        ).collect()
    }
    assert abs(got[("lo", 0.5)] - 50.0) <= 10.0
    assert abs(got[("hi", 0.5)] - 950.0) <= 10.0


# --------------------------------------------------------- Misra–Gries

def test_heavy_hitters_exact_matches_groupby(spark):
    from kusuma_metamorph_etl_spark.operators.sketches import heavy_hitters
    import random

    rng = random.Random(11)
    # Zipf-ish: item i appears ~ 2000/i times
    rows = [(f"item{i}",) for i in range(1, 40) for _ in range(2000 // i)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["x"]).repartition(16)
    n = len(rows)
    k = 25
    want = {}
    for (x,) in rows:
        want[x] = want.get(x, 0) + 1
    want = {x: c for x, c in want.items() if c > n / k}
    got = {r["x"]: r["n"] for r in heavy_hitters(df, "x", k=k).collect()}
    assert got == want and got
    out = heavy_hitters(df, "x", k=k).collect()
    assert all(r["n_total"] == n for r in out)


def test_heavy_hitters_survive_adversarial_partitioning(spark):
    """The pigeonhole guarantee must hold when the heavy item is SPREAD
    thinly across every partition (each partition sees it just over the
    local threshold) while local noise dominates."""
    from kusuma_metamorph_etl_spark.operators.sketches import heavy_hitters

    # 8 partitions × (30 copies of 'hot' + 170 unique noise items)
    rows = []
    for p in range(8):
        rows += [("hot",)] * 30
        rows += [(f"noise_{p}_{i}",) for i in range(170)]
    df = spark.createDataFrame(rows, ["x"]).repartition(8)
    n = len(rows)  # 1600; hot has 240 > n/6 ≈ 267? no — use k where it passes
    k = 8  # threshold n/k = 200 < 240
    got = {r["x"]: r["n"] for r in heavy_hitters(df, "x", k=k).collect()}
    assert got == {"hot": 240}


def test_heavy_hitters_lower_bound_mode_never_overcounts(spark):
    from kusuma_metamorph_etl_spark.operators.sketches import heavy_hitters

    rows = [("a",)] * 500 + [(f"z{i}",) for i in range(300)]
    df = spark.createDataFrame(rows, ["x"]).repartition(4)
    approx = {r["x"]: r["n"] for r in heavy_hitters(df, "x", k=10, exact=False).collect()}
    assert approx and approx.get("a", 0) <= 500
    exact = {r["x"]: r["n"] for r in heavy_hitters(df, "x", k=10).collect()}
    assert exact["a"] == 500


class TestBloom:
    def _keys(self, spark, lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("k"))

    def test_no_false_negatives(self, spark):
        from kusuma_metamorph_etl_spark.operators.sketches import (
            bloom_probe,
            bloom_sketch,
        )

        keys = self._keys(spark, 0, 1000)
        sk = bloom_sketch(keys, "k", n_bits=1 << 14)
        probed = bloom_probe(sk, keys, "k", n_bits=1 << 14)
        assert probed.filter(~F.col("maybe_present")).count() == 0

    def test_false_positive_rate_bounded(self, spark):
        from kusuma_metamorph_etl_spark.operators.sketches import (
            bloom_probe,
            bloom_sketch,
        )

        sk = bloom_sketch(self._keys(spark, 0, 1000), "k", n_bits=1 << 14)
        absent = self._keys(spark, 100_000, 101_000)
        fp = (
            bloom_probe(sk, absent, "k", n_bits=1 << 14)
            .filter(F.col("maybe_present"))
            .count()
        )
        # theoretical FP ~0.1% at 16 bits/key with 5 hashes; 5% is ample
        assert fp <= 50

    def test_merge_equals_union_build(self, spark):
        from kusuma_metamorph_etl_spark.operators.sketches import (
            bloom_sketch,
            merge_bloom,
        )

        a = self._keys(spark, 0, 500)
        b = self._keys(spark, 400, 1000)
        merged = merge_bloom(
            bloom_sketch(a, "k", n_bits=1 << 12).unionByName(
                bloom_sketch(b, "k", n_bits=1 << 12)
            )
        )
        direct = bloom_sketch(a.unionByName(b), "k", n_bits=1 << 12)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_native_and_broadcast_probe_paths_agree(self, spark, monkeypatch):
        # bloom_probe picks a native getbit/element_at expression for
        # small bitsets and a broadcast + Arrow UDF above
        # _NATIVE_BITSET_MAX_WORDS (r18); both paths must produce
        # bit-identical membership for the same sketch.
        from kusuma_metamorph_etl_spark.operators import sketches

        keys = self._keys(spark, 0, 1000)
        probe = self._keys(spark, 500, 1500)
        sk = sketches.bloom_sketch(keys, "k", n_bits=1 << 14)
        native = sorted(
            map(tuple, sketches.bloom_probe(sk, probe, "k", n_bits=1 << 14).collect())
        )
        monkeypatch.setattr(sketches, "_NATIVE_BITSET_MAX_WORDS", 0)
        broadcast = sorted(
            map(tuple, sketches.bloom_probe(sk, probe, "k", n_bits=1 << 14).collect())
        )
        assert native == broadcast

    def test_prefilter_join_equals_plain_join(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators.sketches import (
            bloom_prefilter_join,
        )

        orders = spark.read.parquet(f"{sf_small}/orders.parquet")
        dim = (
            spark.read.parquet(f"{sf_small}/customer.parquet")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").alias("o_custkey"))
        )
        pre = bloom_prefilter_join(orders, dim, on="o_custkey", n_bits=1 << 14)
        plain = orders.join(dim, on="o_custkey")
        assert sorted(map(tuple, pre.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_prefilter_rejects_outer_joins(self, spark):
        import pytest

        from kusuma_metamorph_etl_spark.operators.sketches import (
            bloom_prefilter_join,
        )

        fact = spark.createDataFrame([(1,), (2,)], ["k"])
        dim = spark.createDataFrame([(1,)], ["k"])
        # a left join would keep fact row k=2 with NULLs; the pre-filter
        # drops it — equivalence only holds for inner-style joins (ADVICE r7)
        for how in ("left", "left_outer", "full", "right"):
            with pytest.raises(ValueError):
                bloom_prefilter_join(fact, dim, on="k", how=how)

    def test_prefilter_actually_prunes(self, spark, sf_small):
        from kusuma_metamorph_etl_spark.operators.sketches import (
            bloom_probe,
            bloom_sketch,
        )

        orders = spark.read.parquet(f"{sf_small}/orders.parquet")
        dim = (
            spark.read.parquet(f"{sf_small}/customer.parquet")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").alias("o_custkey"))
        )
        sk = bloom_sketch(dim, "o_custkey", n_bits=1 << 16)
        kept = (
            bloom_probe(sk, orders, "o_custkey", n_bits=1 << 16)
            .filter(F.col("maybe_present"))
            .count()
        )
        total = orders.count()
        matching = orders.join(dim, on="o_custkey", how="left_semi").count()
        # the sketch keeps every true match and prunes most of the rest
        assert matching <= kept < total * 0.5


def _theta_ests(a, b):
    return sketches.theta_set_algebra(a, b, "v").collect()[0]


def _range(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("v"))


class TestKMV:
    """The k-minimum-values family, served by Spark's theta sketches (a
    theta sketch keeps the hashes below theta, the k-th minimum once it
    fills its 4096 nominal entries)."""

    def test_exact_below_k(self, spark):
        df = _range(spark, 0, 100)
        row = _theta_ests(df, df.filter(F.lit(False)))
        # below the nominal size the sketch IS the distinct set
        assert (row["est_a"], row["est_union"]) == (100, 100)

    def test_estimate_accuracy_above_k(self, spark):
        row = _theta_ests(_range(spark, 0, 5000), _range(spark, 0, 0))
        assert abs(row["est_a"] - 5000) / 5000 < 0.2

    def test_intersection_estimate(self, spark):
        a = _range(spark, 0, 4000)
        b = _range(spark, 2000, 6000)
        row = _theta_ests(a, b)
        assert abs(row["est_union"] - 6000) / 6000 < 0.2
        assert abs(row["est_intersection"] - 2000) / 2000 < 0.35

    def test_difference_estimate(self, spark):
        a = _range(spark, 0, 4000)
        b = _range(spark, 2000, 6000)
        row = _theta_ests(a, b)
        assert abs(row["est_difference"] - 2000) / 2000 < 0.35


class TestThetaSetAlgebra:
    @staticmethod
    def _ests(a, b):
        return tuple(_theta_ests(a, b))

    def test_edge_cases_exact(self, spark):
        a = _range(spark, 0, 300)
        empty = a.filter(F.lit(False))
        # (a, b, union, intersection, difference); empty sides give 0
        assert self._ests(a, a) == (300, 300, 300, 300, 0)
        assert self._ests(a, empty) == (300, 0, 300, 0, 300)
        assert self._ests(empty, empty) == (0, 0, 0, 0, 0)

    def test_above_nominal_size_within_gate_bands(self, spark):
        # 20000 distinct per side, far above the 4096 nominal entries;
        # the bands are agg_kmv_family's gate
        a = _range(spark, 0, 20000)
        b = _range(spark, 10000, 30000)
        exact = (20000, 20000, 30000, 10000, 10000)
        bands = (0.06, 0.06, 0.06, 0.15, 0.35)
        for est, x, tol in zip(self._ests(a, b), exact, bands):
            assert abs(est - x) <= tol * x, (est, x, tol)

    def test_repeat_runs_identical(self, spark):
        # the oracle gate compares one run against fixed bands, so the
        # estimates must not vary between runs
        a = _range(spark, 0, 20000).repartition(5)
        b = _range(spark, 10000, 30000).repartition(3)
        assert self._ests(a, b) == self._ests(a, b)


def test_nan_excluded_from_bounds_and_bins(spark):
    """Regression (r8 review): Spark's max sorts NaN above every real, so
    one NaN made hi=NaN, collapsed the bin width, and every quantile
    estimate came back NaN.  NaN rows must be excluded like NULLs."""
    import math

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (float("nan"),), (3.0,)], "v double"
    )
    lo, hi = sketches.derive_bounds(df, "v")
    assert (lo, hi) == (1.0, 3.0)
    sk = sketches.histogram_sketch(df, "v", n_bins=4)  # auto bounds
    assert sum(r["n"] for r in sk.collect()) == 3  # NaN row binned nowhere
    est = sketches.histogram_quantiles(sk, [0.5], lo, hi, 4).collect()[0]["est"]
    assert math.isfinite(est)
    # all-NaN column: same clear error as all-NULL
    import pytest

    with pytest.raises(ValueError, match="non-NaN"):
        sketches.derive_bounds(
            spark.createDataFrame([(float("nan"),)], "v double"), "v"
        )


def test_heavy_hitters_approx_mode_keeps_undercounted_true_hitters(spark):
    """r9 review: exact=False used to threshold the summed LOWER BOUNDS
    at n/k, dropping a true heavy hitter whose counters undercount below
    the line.  The approx mode now returns the full unfiltered candidate
    superset — every true heavy hitter present, counts never above
    truth."""
    from kusuma_metamorph_etl_spark.operators.sketches import heavy_hitters

    # 'a' is a true heavy hitter (120 > 1000/10) but spread thin across
    # partitions of adversarial filler so its MG counters bleed
    rows = [("a",)] * 120 + [(f"z{i % 430}",) for i in range(880)]
    df = spark.createDataFrame(rows, ["x"]).repartition(8)
    approx = {
        r["x"]: r["n"]
        for r in heavy_hitters(df, "x", k=10, exact=False).collect()
    }
    assert "a" in approx          # candidate superset: never dropped
    assert approx["a"] <= 120     # lower bound never overcounts
    exact = {r["x"]: r["n"] for r in heavy_hitters(df, "x", k=10).collect()}
    assert exact == {"a": 120}    # verify pass prunes the false positives


def test_ttl_millis_units_and_errors():
    import pytest

    from kusuma_metamorph_etl_spark.streaming.stateful import _ttl_millis

    assert _ttl_millis(None) is None
    assert _ttl_millis("90 seconds") == 90_000
    assert _ttl_millis("2 days") == 2 * 86_400_000
    for bad in ("3600", "2 fortnights", "soon", "-5 seconds"):
        with pytest.raises(ValueError, match="state_ttl"):
            _ttl_millis(bad)
