"""Hypothesis property tests for the custom algorithms: the union-merge
as-of join against a brute-force Python oracle, and the distributed
global percent_rank against Spark's own single-partition window."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.joins import asof_join
from kusuma_metamorph_etl_spark.operators.windows import global_percent_rank

_spark = None


def _session():
    global _spark
    if _spark is None:
        from kusuma_metamorph_etl_spark.session import get_session

        _spark = get_session()
        _spark.sparkContext.setLogLevel("ERROR")
        _spark.conf.set("spark.sql.shuffle.partitions", "8")  # tiny-data tests (see conftest)
    return _spark


# Fast default (pytest.ini / VERDICT r7 Next #8): trim every property to
# ~1/3 of its example budget so the default suite stays inside the round
# budget; SPARK_GRAFT_FULL_TESTS=1 restores full depth.
_FULL = __import__("os").environ.get("SPARK_GRAFT_FULL_TESTS") == "1"


def _ex(n: int) -> int:
    return n if _FULL else max(3, n // 3)

def _ts(minutes: int) -> dt.datetime:
    return dt.datetime(2024, 6, 1) + dt.timedelta(minutes=minutes)


@settings(max_examples=_ex(10), deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 50)), min_size=1, max_size=12
    ),
    rights=st.dictionaries(
        st.tuples(st.integers(0, 1), st.integers(0, 50)),
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=0,
        max_size=12,
    ),
)
def test_asof_join_matches_bruteforce(lefts, rights):
    """For every left row: the attached value is the right row with the
    greatest ts ≤ left ts within the key (or null) — checked against a
    direct Python scan over all generated rows."""
    spark = _session()
    left = spark.createDataFrame(
        [(i, k, _ts(m)) for i, (k, m) in enumerate(lefts)],
        "row_id long, k long, ts timestamp",
    )
    right_rows = [(k, _ts(m), v) for (k, m), v in rights.items()]
    right = spark.createDataFrame(
        right_rows or [(None, None, None)],
        "k long, ts timestamp, px double",
    ).filter(F.col("k").isNotNull())

    got = {
        r["row_id"]: r["px"]
        for r in asof_join(left, right, on=["k"], value_cols=["px"]).collect()
    }

    for i, (k, m) in enumerate(lefts):
        candidates = [
            (mm, v) for (kk, mm), v in rights.items() if kk == k and mm <= m
        ]
        expected = max(candidates)[1] if candidates else None
        assert got[i] == expected, (i, k, m, candidates, got[i])


@settings(max_examples=_ex(10), deadline=None)
@given(
    values=st.lists(
        st.one_of(st.integers(min_value=-5, max_value=5), st.none()),
        min_size=1,
        max_size=30,
    )
)
def test_global_percent_rank_matches_window(values):
    """Each forced rank-scaffold regime (broadcast map, range buckets,
    distinct-bucketed) gives Spark's own single-partition RANK and row
    total, and the public percent_rank equals the window's, including
    tie semantics."""
    from kusuma_metamorph_etl_spark.operators.windows import _global_rank

    spark = _session()
    df = spark.createDataFrame(
        [(i, None if v is None else float(v)) for i, v in enumerate(values)],
        "i long, v double",
    )
    order = Window.orderBy(F.desc("v"))
    truth = df.select(
        "i", F.rank().over(order).alias("rk"), F.percent_rank().over(order).alias("pr")
    ).collect()
    ranks = {r["i"]: (r["rk"], len(values)) for r in truth}
    reference = {r["i"]: r["pr"] for r in truth}
    for regime in ("broadcast", "range", "distinct"):
        got = {
            r["i"]: (r["__rank"], r["__total"])
            for r in _global_rank(df, "v", [], True, regime).collect()
        }
        assert got == ranks, f"regime={regime}"
    got = {
        r["i"]: r["pr"]
        for r in global_percent_rank(df, "v", out_col="pr", descending=True).collect()
    }
    assert got == reference


@settings(max_examples=_ex(12), deadline=None)
@given(
    values=st.lists(
        st.one_of(st.integers(min_value=-5, max_value=5), st.none()),
        min_size=1,
        max_size=40,
    ),
    n_tiles=st.integers(min_value=1, max_value=7),
    descending=st.booleans(),
)
def test_global_ntile_matches_window(values, n_tiles, descending):
    """Each forced rank-scaffold regime gives Spark's own single-partition
    row number over the total order (value, i), and the public
    global_ntile equals its NTILE — heavy ties, nulls, n < k, and both
    directions."""
    from kusuma_metamorph_etl_spark.operators.windows import (
        _global_rank,
        global_ntile,
    )

    spark = _session()
    df = spark.createDataFrame(
        [(i, None if v is None else float(v)) for i, v in enumerate(values)],
        "i long, v double",
    )
    order = Window.orderBy(F.desc("v") if descending else F.asc("v"), F.asc("i"))
    truth = df.select(
        "i",
        F.row_number().over(order).alias("rn"),
        F.ntile(n_tiles).over(order).alias("nt"),
    ).collect()
    row_numbers = {r["i"]: r["rn"] for r in truth}
    reference = {r["i"]: r["nt"] for r in truth}
    for regime in ("broadcast", "range", "distinct"):
        got = {
            r["i"]: r["__rank"]
            for r in _global_rank(df, "v", [F.asc("i")], descending, regime).collect()
        }
        assert got == row_numbers, f"regime={regime}"
    got = {
        r["i"]: r["nt"]
        for r in global_ntile(
            df, "v", [F.asc("i")], n_tiles, "nt", descending=descending
        ).collect()
    }
    assert got == reference


@settings(max_examples=_ex(10), deadline=None)
@given(
    cents=st.lists(
        st.integers(min_value=-10_000_000, max_value=10_000_000),
        min_size=1,
        max_size=200,
    ),
    parts=st.sampled_from([1, 7, 32]),
)
def test_decimal_sum_is_order_independent(cents, parts):
    """decimal_sum equals the exact Python Decimal result bit-for-bit under
    ANY partitioning — the property round(sum(double)) lacks (its last ulp
    depends on partition combine order, the r1 agg_groupby_single fail)."""
    from decimal import ROUND_HALF_UP, Decimal

    from kusuma_metamorph_etl_spark.functions.numeric import decimal_sum

    spark = _session()
    values = [c / 100.0 for c in cents]  # 2-dp money values
    expected = float(
        sum(Decimal(v).quantize(Decimal("0.000001"), ROUND_HALF_UP) for v in values)
        .quantize(Decimal("0.01"), ROUND_HALF_UP)
    )
    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(parts)
    got = df.agg(decimal_sum(F.col("v"), 2).alias("s")).first()["s"]
    assert got == expected


@settings(max_examples=_ex(10), deadline=None)
@given(
    terms=st.lists(
        st.one_of(
            # scale-6 values up to ~1e7 units: binary error ~1e-9 < 0.5e-6,
            # inside the documented _exact_sum contract
            st.integers(min_value=-10_000_000_000_000, max_value=10_000_000_000_000),
            st.sampled_from(["nan", "inf", "-inf", None]),
        ),
        min_size=1,
        max_size=60,
    ),
    parts=st.sampled_from([1, 7, 32]),
)
def test_decimal_sum_skips_nonfinite(terms, parts):
    """The r4 infinity guard's contract (functions/numeric.py): NaN and ±inf
    terms are normalized to NULL and skipped — the sum over the remaining
    finite scale-6 terms equals the exact Python Decimal result bit-for-bit
    under any partitioning.  Without the guard, floor(+inf)->long silently
    contributes Long.MaxValue to the units sum."""
    from decimal import ROUND_HALF_UP, Decimal

    from kusuma_metamorph_etl_spark.functions.numeric import decimal_sum

    spark = _session()
    values = [
        None if t is None else float(t) if isinstance(t, str) else t / 1e6
        for t in terms
    ]
    finite = [v for v in values if v is not None and not (v != v or abs(v) == float("inf"))]
    expected = (
        float(
            sum(Decimal(v).quantize(Decimal("0.000001"), ROUND_HALF_UP) for v in finite)
            .quantize(Decimal("0.01"), ROUND_HALF_UP)
        )
        if finite
        else None  # all-null/non-finite group: SUM over no finite terms is NULL
    )
    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(parts)
    got = df.agg(decimal_sum(F.col("v"), 2).alias("s")).first()["s"]
    assert got == expected, (values, got, expected)


@settings(max_examples=_ex(10), deadline=None)
@given(
    units=st.lists(
        # integer magnitudes at the top of double's exact-integer range:
        # 2^52 ± k is exactly representable, ulp = 0.5..1, so only scale-0
        # terms are in-contract here — the test pins that the whole-units
        # long-sum path carries them without overflow or drift
        st.integers(min_value=2**52 - 1000, max_value=2**52 + 1000).map(
            lambda n: n if n % 2 else -n
        ),
        min_size=1,
        max_size=50,
    ),
    parts=st.sampled_from([1, 32]),
)
def test_decimal_sum_near_2_52_integers(units, parts):
    """Near-2^52 whole-unit magnitudes sum exactly (the long units path has
    2^63 headroom; 50 × 2^52 ≈ 2^57.6 stays far inside it)."""
    from decimal import ROUND_HALF_UP, Decimal

    from kusuma_metamorph_etl_spark.functions.numeric import decimal_sum

    spark = _session()
    values = [float(n) for n in units]
    expected = float(
        sum(Decimal(v) for v in values).quantize(Decimal("0.01"), ROUND_HALF_UP)
    )
    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(parts)
    got = df.agg(decimal_sum(F.col("v"), 2).alias("s")).first()["s"]
    assert got == expected, (values, got, expected)


@settings(max_examples=_ex(40), deadline=None)
@given(
    shape=st.tuples(
        st.integers(1, 12), st.integers(1, 12), st.sampled_from([1, 2, 3, 4])
    ),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(shape, seed):
    """decode(encode(pixels)) is the identity for every 8-bit image shape
    the codec claims (gray / gray+alpha / RGB / RGBA, any dimensions)."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators import multimodal

    h, w, ch = shape
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(h, w, ch) if ch > 1 else (h, w), dtype=np.uint8)
    back = multimodal.decode_image(multimodal.encode_png(arr))
    assert back["format"] == "png"
    expect = arr if ch != 1 else arr.reshape(h, w)
    assert np.array_equal(back["pixels"], expect), (shape, seed)


@settings(max_examples=_ex(40), deadline=None)
@given(
    shape=st.tuples(st.integers(1, 20), st.integers(1, 20)),
    depth=st.sampled_from([1, 2, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_subbyte_pack_unpack_property(shape, depth, seed):
    """The r11 sub-byte scanline helpers are exact inverses for every
    (h, w, depth): unpack(pack(samples)) == samples, the packed row is
    ceil(w·depth/8) bytes, and the full encode→decode path presents at
    exactly samples·(255//(2**depth−1))."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators import multimodal

    h, w = shape
    rng = np.random.RandomState(seed)
    samples = rng.randint(0, 1 << depth, size=(h, w)).astype(np.uint8)
    packed = multimodal._png_pack_rows(samples, depth)
    assert packed.shape == (h, (w * depth + 7) // 8)
    assert np.array_equal(
        multimodal._png_unpack_rows(packed, w, depth), samples
    )
    back = multimodal._decode_png(multimodal.encode_png(samples, depth=depth))
    assert np.array_equal(back, samples * (255 // ((1 << depth) - 1)))


@settings(max_examples=_ex(40), deadline=None)
@given(
    shape=st.tuples(st.integers(1, 20), st.integers(1, 20)),
    depth=st.sampled_from([1, 2, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_subbyte_interlaced_property(shape, depth, seed):
    """Interlaced sub-byte PNG (graduated r12): the Adam7 stream packs
    each pass independently at the REDUCED width, so for every
    (h, w, depth) decode(encode(interlace=True)) equals the sequential
    decode pixel-for-pixel — the property a shared-width packing bug
    (padding pass rows at the image width) breaks on any w not a
    multiple of 8/depth."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators import multimodal

    h, w = shape
    rng = np.random.RandomState(seed)
    samples = rng.randint(0, 1 << depth, size=(h, w)).astype(np.uint8)
    seq = multimodal._decode_png(multimodal.encode_png(samples, depth=depth))
    inter = multimodal._decode_png(
        multimodal.encode_png(samples, depth=depth, interlace=True)
    )
    assert np.array_equal(inter, seq), (shape, depth, seed)
    assert np.array_equal(seq, samples * (255 // ((1 << depth) - 1)))


@settings(max_examples=_ex(40), deadline=None)
@given(
    shape=st.tuples(st.integers(1, 24), st.integers(1, 12)),
    n_colors=st.integers(1, 9),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_property(shape, n_colors, interlace, seed):
    """decode(encode(pixels)) is the identity for every palette-bounded
    GIF, sequential AND interlaced — heights span all four appendix-E
    pass regimes, so a wrong pass stride cannot hide."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators import multimodal

    h, w = shape
    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
    pixels = palette[rng.randint(0, n_colors, size=(h, w))]
    back = multimodal._decode_gif(
        multimodal.encode_gif(pixels, interlace=interlace)
    )
    assert np.array_equal(back, pixels), (shape, n_colors, interlace, seed)


@settings(max_examples=_ex(8), deadline=None)
@given(
    sigs=st.lists(st.integers(0, 2**48 - 1), min_size=2, max_size=20, unique=True),
    max_hamming=st.integers(1, 4),
)
def test_hamming_blocking_is_exhaustive(sigs, max_hamming):
    """Pigeonhole chunk blocking must find EVERY pair within the Hamming
    budget (it may never miss — the pigeonhole guarantee), matching the
    brute-force pair scan exactly."""
    from kusuma_metamorph_etl_spark.operators.dedup import hamming_blocked_pairs

    spark = _session()
    rows = list(enumerate(sigs))
    brute = {
        (a_id, b_id, bin(a ^ b).count("1"))
        for a_id, a in rows
        for b_id, b in rows
        if a_id < b_id and bin(a ^ b).count("1") <= max_hamming
    }
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in hamming_blocked_pairs(df, 48, max_hamming).collect()
    }
    assert got == brute, (sigs, max_hamming)


@settings(max_examples=_ex(8), deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(edges):
    """Distributed min-label propagation equals driver-side union-find on
    arbitrary small graphs (cliques, chains, self-parallel edges...)."""
    from kusuma_metamorph_etl_spark.operators.graph import connected_components

    spark = _session()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected, edges


def test_percent_rank_constant_column_falls_back():
    """A constant column yields at most one distinct quantile bound; with
    the size shortcut off, the probe must pick the broadcast map instead
    of a degenerate one-bucket range window — asserted on the PLAN (both
    paths give the same values, so a value check alone cannot catch a
    dead guard)."""
    spark = _session()
    df = spark.createDataFrame([(i, 5.0) for i in range(10)], "i long, v double")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = global_percent_rank(df, "v", out_col="pr", descending=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "__bkt" not in plan  # broadcast-map path, not the bucketed one
    rows = out.collect()
    assert all(r["pr"] == 0.0 for r in rows)  # all tied -> rank 1 -> pr 0


class TestEventDedupWindow:
    def test_burst_chain_collapses_to_first(self, spark):
        """An evenly spaced retry storm (gaps < w) must collapse to ONE
        event — the chain rule; and a gap > w starts a fresh burst."""
        import datetime as dt

        from kusuma_metamorph_etl_spark.operators.events import (
            dedup_within_window,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            # storm: 5 retries 400s apart (every consecutive gap <= 600)
            *[(i, t0 + dt.timedelta(seconds=400 * i), 1, "click") for i in range(5)],
            # next burst starts 2000s after the storm's last event
            (9, t0 + dt.timedelta(seconds=400 * 4 + 2000), 1, "click"),
            # different type: untouched
            (20, t0 + dt.timedelta(seconds=100), 1, "view"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        kept = dedup_within_window(
            df, keys=["user_id", "event_type"], window_seconds=600
        )
        ids = sorted(r["event_id"] for r in kept.collect())
        assert ids == [0, 9, 20]

    def test_event_paths_orders_by_time(self, spark):
        import datetime as dt

        from kusuma_metamorph_etl_spark.operators.events import event_paths

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0 + dt.timedelta(seconds=30), 1, "b"),
            (2, t0 + dt.timedelta(seconds=10), 1, "a"),
            (3, t0 + dt.timedelta(seconds=50), 1, "c"),
            (4, t0 + dt.timedelta(seconds=70), 1, "d"),  # beyond depth 3
            (5, t0, 2, "a"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        got = {r["path"]: r["n_users"] for r in event_paths(df, depth=3).collect()}
        assert got == {"a>b>c": 1, "a": 1}


@settings(max_examples=_ex(8), deadline=None)
@given(
    obs=st.dictionaries(
        st.integers(0, 40),  # day offsets (sparse, with gaps)
        st.floats(min_value=-1000, max_value=1000, allow_nan=False),
        min_size=1,
        max_size=12,
    ),
)
def test_ewma_matches_bruteforce_truncated_definition(obs):
    """The fan-out implementation must equal the literal truncated-EWMA
    definition computed directly in Python (calendar-distance weights,
    64-day window)."""
    import math

    from kusuma_metamorph_etl_spark.operators.timeseries import ewma

    spark = _session()
    rows = [
        ("k", dt.date(2024, 1, 1) + dt.timedelta(days=d), v)
        for d, v in sorted(obs.items())
    ]
    df = spark.createDataFrame(rows, "k string, d date, v double")
    got = {
        r["d"]: r["ewma"]
        for r in ewma(df, ["k"], "d", "v", alpha=0.2, window_days=64).collect()
    }
    for d_t, _ in sorted(obs.items()):
        num = den = 0.0
        for d_i, x in obs.items():
            age = d_t - d_i
            if 0 <= age < 64:
                w = 0.8**age
                num += round(x * w, 6)
                den += round(w, 9)
        want = round(num / den, 6)
        key = dt.date(2024, 1, 1) + dt.timedelta(days=d_t)
        assert math.isclose(got[key], want, abs_tol=2e-6), (d_t, got[key], want)


@settings(max_examples=_ex(8), deadline=None)
@given(
    a=st.sets(st.integers(0, 5000), min_size=1, max_size=400),
    b=st.sets(st.integers(0, 5000), min_size=0, max_size=400),
)
def test_kmv_merge_associative_idempotent_and_exact_below_k(a, b):
    """Theta sketches (Spark's KMV family): below the nominal size (4096
    distinct values) every estimate of the set algebra is the exact
    cardinality, the union of two sketches equals the sketch of the
    union, and re-merging a sketch with itself changes nothing."""
    from kusuma_metamorph_etl_spark.operators.sketches import theta_set_algebra

    spark = _session()
    df_a = spark.createDataFrame([(v,) for v in a], "v long")
    df_b = spark.createDataFrame([(v,) for v in b], "v long") if b else df_a.limit(0)
    row = theta_set_algebra(df_a, df_b, "v").collect()[0]
    assert (
        row["est_a"],
        row["est_b"],
        row["est_union"],
        row["est_intersection"],
        row["est_difference"],
    ) == (len(a), len(b), len(a | b), len(a & b), len(a - b))
    both = df_a.unionByName(df_b)
    direct = theta_set_algebra(both, both, "v").collect()[0]
    assert direct["est_a"] == row["est_union"]
    assert direct["est_union"] == direct["est_a"]  # idempotent merge


@settings(max_examples=_ex(8), deadline=None)
@given(keys=st.sets(st.integers(-(2**40), 2**40), min_size=1, max_size=300))
def test_bloom_never_false_negative(keys):
    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_probe,
        bloom_sketch,
    )

    spark = _session()
    df = spark.createDataFrame([(v,) for v in keys], "v long")
    sk = bloom_sketch(df, "v", n_bits=1 << 13)
    probed = bloom_probe(sk, df, "v", n_bits=1 << 13)
    assert probed.filter(~F.col("maybe_present")).count() == 0


@settings(max_examples=_ex(25), deadline=None)
@given(
    indices=st.lists(st.integers(0, 15), min_size=1, max_size=400),
)
def test_gif_lzw_roundtrip_property(indices):
    """The GIF LZW pair must round-trip ANY index stream exactly —
    including streams that exercise the KwKwK case and width growth
    (pure Python, no Spark)."""
    from kusuma_metamorph_etl_spark.operators.multimodal import (
        _gif_lzw_compress,
        _gif_lzw_decompress,
    )

    mcs = 4  # 16-symbol alphabet
    data = _gif_lzw_compress(indices, mcs)
    assert _gif_lzw_decompress(data, mcs) == indices


@settings(max_examples=_ex(10), deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 10_000),
)
def test_jpeg_roundtrip_error_bounded_property(h, w, seed):
    """Any uint8 RGB image round-trips through the baseline JPEG pair
    with quantization-bounded error at quality 95 (lossy — RMSE bound,
    never equality)."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(arr, quality=95))
    assert dec.shape == arr.shape
    err = dec.astype(float) - arr.astype(float)
    assert np.sqrt((err**2).mean()) < 10.0


@settings(max_examples=_ex(8), deadline=None)
@given(
    urls=st.lists(
        st.text(
            alphabet="abcXYZ019:/?#&=._%-~ \t" + "é中",
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_normalize_url_total_and_idempotent_property(spark, urls):
    """The URL canonicalizer is TOTAL (never throws, NULL-safe) and a
    projection (normalize ∘ normalize == normalize) on arbitrary hostile
    strings — regexp chains are exactly where a stray pattern turns one
    weird crawl URL into a job-killing exception."""
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.text import normalize_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = normalize_url(F.col("u"))
    rows = df.select(once.alias("n1"), normalize_url(once).alias("n2")).collect()
    for r in rows:
        assert r["n1"] == r["n2"]


@settings(max_examples=_ex(9), deadline=None)
@given(perm=st.permutations(["a=1", "b=2", "c=", "key=v%20x", "a=0"]))
def test_normalize_url_sorted_is_permutation_invariant(spark, perm):
    """r8 advice #4 done-gate: with sort_params=True, EVERY param
    ordering of the same URL canonicalizes to the same string, and the
    sorted form is still idempotent."""
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.text import normalize_url

    url = "https://ex.com/p?" + "&".join(perm)
    canonical = "https://ex.com/p?" + "&".join(
        sorted(["a=1", "b=2", "c=", "key=v%20x", "a=0"])
    )
    df = spark.createDataFrame([(url,)], "u string")
    once = normalize_url(F.col("u"), sort_params=True)
    row = df.select(
        once.alias("n1"), normalize_url(once, sort_params=True).alias("n2")
    ).collect()[0]
    assert row["n1"] == canonical
    assert row["n2"] == canonical


@settings(max_examples=_ex(9), deadline=None)
@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=33, max_codepoint=126, exclude_characters="#"
            ),
            min_size=1,
            max_size=10,
        ),
        min_size=1,
        max_size=25,
    ),
    n_merges=st.integers(min_value=0, max_value=30),
)
def test_wordpiece_roundtrip_lossless_on_any_corpus(words, n_merges):
    """decode(encode(text)) == whitespace-normalized text for ANY corpus
    of printable-ASCII words (no leading-## collision class): the
    alphabet seed guarantees coverage, so no [UNK] ever appears and the
    round-trip is total regardless of which merges were learned."""
    from kusuma_metamorph_etl_spark.operators import wordpiece as wp

    spark = _session()
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    vocab = wp.wordpiece_train(df, n_merges=n_merges)
    enc = wp.wordpiece_encode(df, vocab)
    got = enc.select(wp.wordpiece_decode(F.col("tokens")).alias("s")).first()["s"]
    assert got == " ".join(w for w in text.split(" ") if w)


@settings(max_examples=_ex(9), deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-5.0,
                    max_value=100.0,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=12),
)
def test_weighted_sample_contract(rows, k):
    """A-ES invariants on arbitrary inputs: exactly min(k, n_eligible)
    rows, all from the positive-weight subset, and the selection is a
    pure function of (key, weight) — input order and partitioning never
    change it."""
    from kusuma_metamorph_etl_spark.operators.sampling import weighted_sample

    spark = _session()
    df = spark.createDataFrame(rows, "id long, w double")
    got = sorted(
        r.id for r in weighted_sample(df, F.col("id"), F.col("w"), k).collect()
    )
    eligible = {i for i, w in rows if w is not None and w > 0}
    assert len(got) == min(k, len(eligible))
    assert set(got) <= eligible
    again = sorted(
        r.id
        for r in weighted_sample(
            df.repartition(5), F.col("id"), F.col("w"), k
        ).collect()
    )
    assert got == again


@settings(max_examples=_ex(30), deadline=None)
@given(
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    subsampling=st.sampled_from(["444", "420"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_multiscan_equals_interleaved_property(h, w, subsampling, seed):
    """Non-interleaved (one scan per component) and interleaved encodings
    of the same image carry identical quantized blocks, so decode
    equality must be EXACT at every geometry — this pins the
    per-component data-unit grid math (ceil of the scaled dims per T.81
    A.2.2, not the MCU-padded interleaved grid), which only diverges on
    widths/heights that aren't MCU multiples."""
    import numpy as np
    from test_multimodal import _encode_noninterleaved_jpeg

    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    non_il = decode_jpeg(
        _encode_noninterleaved_jpeg(img, quality=90, subsampling=subsampling)
    )
    il = decode_jpeg(encode_jpeg(img, quality=90, subsampling=subsampling))
    assert np.array_equal(non_il, il), (h, w, subsampling, seed)


@settings(max_examples=_ex(40), deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_rle8_kernel_property(h, w, seed):
    """The RLE8 index kernel inverts a spec-legal stream for ANY grid:
    a test-local encoder mixes encoded runs, absolute mode (>= 3 px,
    word-aligned), and single-pixel runs, one end-of-line per row."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.multimodal import (
        _bmp_rle8_indices,
    )

    rng = np.random.RandomState(seed)
    idx = rng.randint(0, 16, size=(h, w)).astype(np.uint8)
    stream = bytearray()
    for row in idx:
        x = 0
        while x < w:
            n = min(int(rng.randint(1, 12)), w - x)
            chunk = row[x : x + n]
            if bool((chunk == chunk[0]).all()) and rng.rand() < 0.5:
                stream += bytes([n, int(chunk[0])])  # encoded run
            elif n >= 3:  # absolute mode needs count >= 3
                stream += bytes([0, n]) + chunk.tobytes()
                if n & 1:
                    stream += b"\x00"  # word alignment pad
            else:
                for v in chunk:
                    stream += bytes([1, int(v)])
            x += n
        stream += bytes([0, 0])  # end of line
    stream += bytes([0, 1])  # end of bitmap
    assert np.array_equal(_bmp_rle8_indices(bytes(stream), w, h), idx), (
        h, w, seed,
    )


@settings(max_examples=_ex(30), deadline=None)
@given(
    kind=st.sampled_from(["int16", "uint8", "float32"]),
    n=st.integers(1, 200),
    channels=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(kind, n, channels, seed):
    """decode(encode(samples)) is the identity for every dtype-driven
    WAV format (PCM16, PCM8 offset-binary, IEEE float32), any channel
    count, any length — including the odd-data-size word-padding edge."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators import multimodal

    rng = np.random.RandomState(seed)
    if kind == "int16":
        x = rng.randint(-32768, 32768, size=(n, channels)).astype(np.int16)
    elif kind == "uint8":
        x = rng.randint(0, 256, size=(n, channels)).astype(np.uint8)
    else:
        x = rng.randn(n, channels).astype(np.float32)
    audio = multimodal.decode_audio(multimodal.encode_wav(x, 16000))
    assert (audio["n_samples"], audio["channels"]) == (n, channels)
    assert audio["samples"].dtype == x.dtype
    assert np.array_equal(audio["samples"], x), (kind, n, channels, seed)


@settings(max_examples=_ex(30), deadline=None)
@given(
    predictor=st.integers(1, 7),
    h=st.integers(1, 10),
    w=st.integers(1, 14),
    deep=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_lossless_roundtrip_property(predictor, h, w, deep, seed):
    """SOF3 lossless decode inverts the test-local Annex-H writer exactly
    for every predictor, any geometry (1-wide/1-tall degenerate rows hit
    the Ra/Rb-only prediction rules), both 8- and 16-bit sample depths
    (16-bit exercises the mod-2^16 difference arithmetic)."""
    import numpy as np
    from test_multimodal import _encode_lossless_jpeg

    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    rng = np.random.RandomState(seed)
    if deep:
        img = rng.randint(0, 65536, size=(h, w)).astype(np.uint16)
    else:
        img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    out = decode_jpeg(_encode_lossless_jpeg(img, predictor=predictor))
    assert out.dtype == img.dtype
    assert np.array_equal(out, img), (predictor, h, w, deep, seed)


@settings(max_examples=_ex(30), deadline=None)
@given(
    bits=st.lists(st.integers(0, 1), min_size=0, max_size=3000),
    nctx=st.integers(1, 6),
    seed=st.integers(0, 2**31),
)
def test_qm_arithmetic_coder_roundtrip(bits, nctx, seed):
    """QM arithmetic coder (T.81 Annex D, r13): decode(encode(bits))
    recovers every decision for arbitrary bit sequences over arbitrary
    context assignments — biased-context pressure drives states deep
    down the probability table's NMPS/NLPS chains, so a transcription
    slip in a reachable row breaks this property for SOME sequence."""
    import random

    from kusuma_metamorph_etl_spark.operators.jpeg import (
        _ArithDecoder,
        _ArithEncoder,
    )

    ctxs = [random.Random(seed + i).randrange(nctx) for i in range(len(bits))]
    st_e, st_d = bytearray(nctx), bytearray(nctx)
    enc = _ArithEncoder()
    for b, c in zip(bits, ctxs):
        enc.encode(st_e, c, b)
    data = enc.flush()
    dec = _ArithDecoder(data)
    assert [dec.decode(st_d, c) for c in ctxs] == bits
    assert st_d == st_e  # both sides end in the SAME estimation state


@settings(max_examples=_ex(15), deadline=None)
@given(
    n=st.integers(1, 3),
    h=st.integers(1, 6),
    w=st.integers(1, 7),
    depth=st.integers(8, 16),
    seed=st.integers(0, 2**31),
)
def test_y4m_depth_roundtrip_property(n, h, w, depth, seed):
    """Y4M mono roundtrips at every depth 8..16 over arbitrary
    geometries (r13: depth-extended tags) — samples present raw at
    file depth, dtype follows the declared depth."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators import multimodal

    rng = np.random.RandomState(seed % (2**31))
    frames = rng.randint(
        0, 1 << depth, size=(n, h, w),
        dtype=np.uint8 if depth == 8 else np.uint16,
    )
    video = multimodal.decode_video(
        multimodal.encode_y4m(frames, depth=depth)
    )
    assert video["depth"] == depth
    assert (video["width"], video["height"], video["n_frames"]) == (w, h, n)
    for k in range(n):
        assert np.array_equal(video["frames"][k]["y"], frames[k])


@settings(max_examples=_ex(10), deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab é",  # tiny alphabet forces cross-list collisions
            min_size=0,
            max_size=6,
        ),
        min_size=0,
        max_size=25,
    ),
    split=st.integers(min_value=0, max_value=25),
    fpp=st.sampled_from([0.5, 0.05, 0.01]),
)
def test_bloom_incremental_dedup_always_equals_anti_join(texts, split, fpp):
    """For ANY corpus split and ANY false-positive sizing (including a
    deliberately awful fpp=0.5 that floods the verify join), the Bloom
    prefilter + exact verify must return exactly the plain anti-join's
    rows — no-false-negative composition, empty-side edges included."""
    from kusuma_metamorph_etl_spark.operators.dedup import (
        bloom_incremental_dedup,
        incremental_dedup,
    )

    spark = _session()
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else (
        spark.createDataFrame([], "doc_id long, text string")
    )
    new = df.filter(F.col("doc_id") < split)
    history = df.filter(F.col("doc_id") >= split)
    plain = {r["doc_id"] for r in incremental_dedup(new, history).collect()}
    bloomed = {
        r["doc_id"]
        for r in bloom_incremental_dedup(new, history, fpp=fpp).collect()
    }
    assert bloomed == plain


# ---------------------------------------------------------------- r15 ops

_HOST_LABEL = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=8
).filter(lambda s: not s.startswith("-") and not s.endswith("-"))


@settings(max_examples=_ex(12), deadline=None)
@given(
    labels=st.lists(_HOST_LABEL, min_size=1, max_size=5),
    suffix=st.sampled_from(
        ["", ".co.uk", ".com.au", ".co.jp", ".com", ".org", ".net"]
    ),
    path=st.text(alphabet="abcxyz019/._-", max_size=12),
)
def test_registrable_domain_is_host_suffix_and_stable(labels, suffix, path):
    """For any synthesized URL: extraction never throws, the result is a
    dot-suffix of the host (or the host itself), and re-extracting from
    a URL built on the extracted domain is a fixpoint."""
    from kusuma_metamorph_etl_spark.operators.text import registrable_domain

    spark = _session()
    host = ".".join(labels) + suffix
    url = f"https://{host}/{path}"
    df = spark.createDataFrame([(url,)], ["u"])
    got = df.select(registrable_domain(F.col("u")).alias("d")).first()["d"]
    assert got == host or host.endswith("." + got)
    refetched = (
        spark.createDataFrame([(f"https://{got}/x",)], ["u"])
        .select(registrable_domain(F.col("u")).alias("d"))
        .first()["d"]
    )
    assert refetched == got  # fixpoint: eTLD+1 of an eTLD+1 is itself


@settings(max_examples=_ex(10), deadline=None)
@given(
    sizes=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=0, max_value=25),
        min_size=1,
        max_size=4,
    ),
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=3,
    ),
    total=st.integers(min_value=0, max_value=40),
)
def test_mixture_sample_quota_invariants(sizes, weights, total):
    """Per-group output == min(group size, round-half-up quota); groups
    outside the weight map never appear; whole draw partition-invariant."""
    from kusuma_metamorph_etl_spark.operators.sampling import mixture_sample

    spark = _session()
    rows = []
    i = 0
    for g, n in sorted(sizes.items()):
        for _ in range(n):
            rows.append((i, g))
            i += 1
    if not rows:
        rows = [(0, "zz")]  # keep a schema; 'zz' is never named
    df = spark.createDataFrame(rows, ["id", "g"])
    out = mixture_sample(df, "g", weights, total, F.col("id"))
    got = {
        r["g"]: r["n"]
        for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    for g, n_got in got.items():
        assert g in weights
        quota = int(total * weights[g] + 0.5)
        assert n_got == min(quota, sizes.get(g, 0))
    for g, w in weights.items():
        quota = int(total * w + 0.5)
        expect = min(quota, sizes.get(g, 0))
        assert got.get(g, 0) == expect
    re_ids = sorted(
        r["id"]
        for r in mixture_sample(
            df.repartition(5), "g", weights, total, F.col("id")
        ).collect()
    )
    assert re_ids == sorted(r["id"] for r in out.collect())


@settings(max_examples=_ex(8), deadline=None)
@given(
    n_doc=st.integers(min_value=1, max_value=4),
    n_tok=st.integers(min_value=1, max_value=4),
    n_q=st.integers(min_value=1, max_value=3),
    data=st.data(),
)
def test_maxsim_matches_python_oracle(n_doc, n_tok, n_q, data):
    """maxsim_topk == the brute-force Python computation (sum over query
    tokens of the max doc-token cosine, ranked desc with dkey tiebreak)
    on arbitrary small integer-vector token sets."""
    import math

    from kusuma_metamorph_etl_spark.operators.similarity import maxsim_topk

    spark = _session()
    vec = st.lists(
        st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
    ).filter(lambda v: any(v))  # zero vectors -> NULL cosine, tested separately
    docs, d_map = [], {}
    for d in range(n_doc):
        d_map[d] = []
        for _ in range(n_tok):
            v = data.draw(vec)
            docs.append((d, [float(x) for x in v]))
            d_map[d].append(v)
    qs, q_map = [], {}
    for i in range(n_q):
        v = data.draw(vec)
        qs.append((0, i, [float(x) for x in v]))
        q_map[i] = v

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expect = {}
    for d, toks in d_map.items():
        s = sum(
            round(max(cos(q, t) for t in toks), 9) for q in q_map.values()
        )
        expect[d] = round(s, 6)
    order = sorted(expect, key=lambda d: (-expect[d], d))[:2]

    docs_df = spark.createDataFrame(docs, "dkey long, embedding array<double>")
    q_df = spark.createDataFrame(qs, "qkey long, vec_id long, embedding array<double>")
    got = {
        r["dkey"]: (r["maxsim"], r["rank"])
        for r in maxsim_topk(docs_df, q_df, k=2).collect()
    }
    assert sorted(got) == sorted(order)
    for rank, d in enumerate(order, start=1):
        assert got[d][1] == rank
        assert abs(got[d][0] - expect[d]) < 1e-6


@settings(max_examples=_ex(8), deadline=None)
@given(
    n_doc=st.integers(min_value=2, max_value=5),
    n_tok=st.integers(min_value=1, max_value=3),
    data=st.data(),
)
def test_maxsim_candidates_equals_filter_then_rerank(n_doc, n_tok, data):
    """maxsim_topk(candidates=C) == score EVERY pair, keep only pairs in
    C, re-rank — on arbitrary small token sets and arbitrary candidate
    subsets.  The restriction must change WHICH pairs are scored, never
    the score of a surviving pair (the exact-re-rank contract the
    sim_maxsim_ann_err gate leans on)."""
    from kusuma_metamorph_etl_spark.operators.similarity import maxsim_topk

    spark = _session()
    vec = st.lists(
        st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
    ).filter(lambda v: any(v))
    docs = [
        (d, [float(x) for x in data.draw(vec)])
        for d in range(n_doc)
        for _ in range(n_tok)
    ]
    qs = [(0, i, [float(x) for x in data.draw(vec)]) for i in range(2)]
    cand_docs = sorted(
        data.draw(
            st.sets(
                st.integers(min_value=0, max_value=n_doc - 1),
                min_size=1,
                max_size=n_doc,
            )
        )
    )
    docs_df = spark.createDataFrame(docs, "dkey long, embedding array<double>")
    q_df = spark.createDataFrame(
        qs, "qkey long, vec_id long, embedding array<double>"
    )
    cand_df = spark.createDataFrame(
        [(0, d) for d in cand_docs], "qkey long, dkey long"
    )
    k = n_doc  # no truncation: compare the full restricted ranking
    full = {
        r["dkey"]: r["maxsim"]
        for r in maxsim_topk(docs_df, q_df, k=k).collect()
    }
    expect_order = sorted(
        ((d, full[d]) for d in cand_docs), key=lambda t: (-t[1], t[0])
    )
    got = sorted(
        (
            (r["rank"], r["dkey"], r["maxsim"])
            for r in maxsim_topk(
                docs_df, q_df, k=k, candidates=cand_df
            ).collect()
        )
    )
    assert [(d, m) for _, d, m in got] == expect_order
    assert [r for r, _, _ in got] == list(range(1, len(cand_docs) + 1))
