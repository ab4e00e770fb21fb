"""Connected-components tests: known topologies, convergence behavior,
and the transitive cluster-collapse rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.graph import (
    cluster_representatives,
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_two_components_and_chain(spark):
    # chain 1-2-3-4 plus island 10-11: transitive closure, min labels
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_direction_and_duplicates_normalized(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_converges(spark):
    # a 30-node path needs ~diameter rounds — within the default budget
    got = _cc(spark, [(i, i + 1) for i in range(1, 30)])
    assert set(got.values()) == {1}


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 10)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_cluster_representatives_transitive(spark):
    """A≈B and B≈C must drop BOTH B and C even though A≉C directly —
    the property pairwise dedup cannot express."""
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (7, "y")], "doc_id long, payload string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    kept = {r["doc_id"] for r in cluster_representatives(docs, pairs).collect()}
    assert kept == {1, 7}


def test_star_graph_skew_converges_fast(spark):
    """Star graph: one hub, 500 spokes — a single huge component with the
    hottest possible join key (every edge shares the hub).  Must converge,
    and in few rounds: the star has diameter 2, so min-label propagation +
    pointer doubling needs ≤3 rounds (max_iter=3 proves the round count,
    not just eventual convergence)."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 501)], "a long, b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iter=3).collect()
    }
    assert len(got) == 501 and set(got.values()) == {0}


def test_reliable_checkpoint_path(spark, checkpoint_dir):
    """A Spark checkpoint dir swaps the per-round localCheckpoint for
    reliable checkpoint(): same labels, and checkpoint files actually
    land in the directory."""
    import os

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    wrote = any(files for _, _, files in os.walk(checkpoint_dir))
    assert wrote, "reliable checkpoint() wrote nothing under the checkpoint dir"


def test_components_match_networkx_free_oracle(spark, sf_small):
    """Brute-force union-find over the collected edge list agrees with the
    distributed result on real near-dup edges."""
    from kusuma_metamorph_etl_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    edges = dedup.jaccard_pairs(docs, threshold=0.3).select("a", "b")
    rows = edges.collect()

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for r in rows:
        union(r["a"], r["b"])
    expected = {n: find(n) for n in parent}
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == expected and got


# ---------------------------------------------------------------- pagerank

def _np_pagerank(edges, damping=0.85, n_iter=15):
    """Dense power iteration with the exact same declared semantics
    (weighted transitions, uniform dangling redistribution, fixed
    synchronous rounds) — the independent oracle."""
    import numpy as np

    nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    for a, b, w in edges:
        P[idx[a], idx[b]] += w
    out = P.sum(axis=1)
    dangling = out == 0
    with np.errstate(invalid="ignore"):
        P = np.where(out[:, None] > 0, P / np.where(out == 0, 1, out)[:, None], 0)
    pr = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        mass = pr[dangling].sum()
        pr = (1 - damping) / n + damping * (pr @ P + mass / n)
    return {nodes[i]: pr[i] for i in range(n)}


def test_pagerank_matches_numpy_power_iteration(spark):
    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    import random

    rng = random.Random(7)
    edges = list(
        {
            (rng.randrange(12), rng.randrange(12))
            for _ in range(40)
        }
    )
    weighted = [(a, b, float(1 + (a + b) % 3)) for a, b in edges if a != b]
    df = spark.createDataFrame(weighted, ["src", "dst", "w"])
    got = {
        r["node"]: r["pr"]
        for r in pagerank(df, weight_col="w", n_iter=15).collect()
    }
    want = _np_pagerank(weighted)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # dangling mass conserved


def test_pagerank_dangling_and_star_shape(spark):
    """Star graph: hub receives all mass; leaves (dangling) redistribute.
    Ranks must sum to 1 and the hub must dominate every leaf."""
    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    leaves = list(range(1, 8))
    df = spark.createDataFrame([(l, 0) for l in leaves], ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=15).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(got[0] > got[l] for l in leaves)
    want = _np_pagerank([(l, 0, 1.0) for l in leaves])
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_pagerank_null_endpoints_ignored(spark):
    """An edge with a NULL endpoint is dropped up front: no NULL node is
    ranked and Σpr stays 1 (a NULL node used to be counted in n but
    never re-attached, leaking its share of the mass)."""
    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, None), (None, 2), (None, None)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=15).collect()}
    assert None not in got
    assert abs(sum(got.values()) - 1.0) < 1e-9
    want = _np_pagerank([(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)])
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_pagerank_empty_edges_raises(spark):
    import pytest

    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="empty edge list"):
        pagerank(empty)


class TestIncrementalComponents:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, ["a", "b"])

    @pytest.mark.slow
    def test_equals_full_recompute_on_random_graph(self, spark):
        import random

        from kusuma_metamorph_etl_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        rng = random.Random(7)
        pairs = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(60)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        cut = len(pairs) // 2
        full = connected_components(self._edges(spark, pairs))
        old = connected_components(self._edges(spark, pairs[:cut]))
        incr = incremental_components(old, self._edges(spark, pairs[cut:]))
        assert sorted(map(tuple, incr.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_new_edge_bridges_two_old_components(self, spark):
        from kusuma_metamorph_etl_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        old = connected_components(
            self._edges(spark, [(1, 2), (2, 3), (10, 11)])
        )
        incr = incremental_components(old, self._edges(spark, [(3, 10)]))
        got = {r["node"]: r["component"] for r in incr.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1}

    def test_untouched_components_keep_labels(self, spark):
        from kusuma_metamorph_etl_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        old = connected_components(
            self._edges(spark, [(1, 2), (10, 11)])
        )
        incr = incremental_components(old, self._edges(spark, [(20, 21)]))
        got = {r["node"]: r["component"] for r in incr.collect()}
        assert got == {1: 1, 2: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_pagerank_zero_weight_outedges_become_dangling(spark):
    """Regression (r8 review): a node whose out-edges all carry zero
    weight hit w/0 (ANSI fault; silent mass loss under non-ANSI).  Its
    edges drop and the node redistributes as dangling — Σpr stays 1."""
    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0), (3, 2, 0.0)],
        "src long, dst long, w double",
    )
    pr = pagerank(edges, n_iter=10, weight_col="w")
    rows = {r["node"]: r["pr"] for r in pr.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    assert all(v > 0 for v in rows.values())


def test_triangles_per_vertex_hand_computed(spark):
    """K4 plus a pendant edge: every K4 vertex sits in C(3,2)=3
    triangles, the pendant in none; duplicate/reversed/self-loop edges
    must not change the count."""
    from kusuma_metamorph_etl_spark.operators.graph import (
        triangles_per_vertex,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5)] + [(2, 1), (3, 3), (1, 2)]  # noise: dup/rev/loop
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["n_triangles"] for r in triangles_per_vertex(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # global count = sum/3 = 4 triangles in K4
    assert sum(got.values()) // 3 == 4


def test_triangles_match_bruteforce_on_random_graph(spark):
    """Degree-oriented count equals the O(n^3) reference on a random
    graph (the orientation rank / closure-edge logic is where off-by-one
    triangle dedup bugs live)."""
    import itertools
    import random

    from kusuma_metamorph_etl_spark.operators.graph import (
        triangles_per_vertex,
    )

    rng = random.Random(5)
    nodes = list(range(30))
    edges = [
        (a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.2
    ]
    eset = set(edges)
    expected: dict[int, int] = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if ((x, y) in eset and (y, z) in eset and (x, z) in eset):
            for v in (x, y, z):
                expected[v] = expected.get(v, 0) + 1
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["n_triangles"] for r in triangles_per_vertex(df).collect()}
    assert got == expected


# ------------------------------------------------------------- k-core


def _kcore_brute(edges, k):
    """Reference peeling on a python dict graph."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for n in adj.pop(v):
                adj[n].discard(v)
            changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


@pytest.mark.parametrize("k", [1, 2, 3])
def test_kcore_hand_graph(spark, k):
    from kusuma_metamorph_etl_spark.operators.graph import kcore

    # triangle 1-2-3 + pendant 3-4 + isolated edge 10-11
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.degree for r in kcore(df, k=k).collect()}
    assert got == _kcore_brute(edges, k)


def test_kcore_matches_bruteforce_on_random_graph(spark):
    import random

    from kusuma_metamorph_etl_spark.operators.graph import kcore

    rng = random.Random(11)
    edges = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(40), rng.randrange(40)) for _ in range(120)
            )
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "a long, b long")
    for k in (2, 3, 4):
        got = {r.node: r.degree for r in kcore(df, k=k).collect()}
        assert got == _kcore_brute(edges, k), f"k={k}"


def test_kcore_k6_empties_a_k6_clique_and_k5_keeps_it(spark):
    from itertools import combinations

    from kusuma_metamorph_etl_spark.operators.graph import kcore

    clique = list(combinations(range(6), 2))
    df = spark.createDataFrame(clique, "a long, b long")
    assert kcore(df, k=6).count() == 0
    got = {r.node: r.degree for r in kcore(df, k=5).collect()}
    assert got == {v: 5 for v in range(6)}


def test_kcore_rejects_bad_k(spark):
    from kusuma_metamorph_etl_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        kcore(df, k=0)


def test_kcore_raises_on_round_budget_exhaustion(spark):
    """A path graph peels ~2 nodes per round at k=2... actually a path
    has no 2-core at all and unravels from both ends — with max_iter too
    small for the peel depth the operator must raise, not return the
    unfinished superset."""
    from kusuma_metamorph_etl_spark.operators.graph import kcore

    path = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(path, "a long, b long")
    with pytest.raises(RuntimeError, match="fixed point"):
        kcore(df, k=2, max_iter=3)
    # and with budget it converges to the empty core
    assert kcore(df, k=2, max_iter=50).count() == 0


def test_pagerank_rejects_out_of_range_damping(spark):
    """r17 edge sweep, batch 4: damping outside [0, 1] silently emitted
    out-of-theory ranks (negative teleport mass) that still summed to 1,
    so nothing downstream would notice — now a ValueError.  The [0, 1]
    boundaries stay legal (0 = uniform teleport, 1 = pure power
    iteration)."""
    import pytest

    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    for bad in (1.5, -0.1):
        with pytest.raises(ValueError, match="damping must be in"):
            pagerank(edges, damping=bad)
    with pytest.raises(ValueError, match="n_iter must be >= 0"):
        pagerank(edges, n_iter=-1)
