"""[EXT] Distributed connected components — the clustering step every
near-dup pipeline needs between PAIRS (MinHash/SimHash/pHash/embedding
output) and ACTIONS (keep one representative per duplicate cluster).

Algorithm: iterative min-label propagation with pointer doubling,
expressed as DataFrame joins — each round every node adopts the smallest
label among itself and its neighbors (one hop of propagation), then
follows its label's label (halving every label path, as in Hash-to-Min —
Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds", ICDE'13).  The combination converges in
O(log diameter) rounds; a fixed point means labels equal the
per-component minimum node id.

Scale shape per round: one equi-join of the symmetric edge list against
current labels + one min-aggregation, both keyed on node id — shuffles
carry (node, label) pairs only, never payloads.  Lineage is truncated
every round with :func:`plans.share.share` (an iterative plan otherwise
grows exponentially in the optimizer; set a Spark checkpoint dir to make
the per-round frames survive executor loss); the convergence probe is one
bounded count per round, and the loop is capped by ``max_iter``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in ``edges``, with ``component``
    the minimum node id of its connected component.

    ``edges`` is an undirected pair list; direction and duplicates are
    normalized away here.  Raises ``RuntimeError`` if ``max_iter`` rounds
    do not reach the fixed point (i.e. component diameter exceeded the
    budget) rather than returning silently-wrong partial labels.
    """
    # Materialize the symmetric edge list ONCE: every round's join would
    # otherwise re-evaluate the upstream edge lineage (for near-dup edges
    # that is the whole shingle/LSH pipeline — measured 10.7s → ~4s warm
    # at sf0.1 on exact-Jaccard edges from this one checkpoint).
    sym = share(
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct(),
        eager=True,
    )
    labels = share(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        eager=True,
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("src"),
                    F.col("component").alias("src_component"),
                ),
                on="src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("src_component").alias("neighbor_component"))
        )
        propagated = labels.join(neighbor_min, on="node", how="left").select(
            "node",
            # the pre-round label rides along so the convergence probe
            # below is a narrow filter over the checkpointed frame, not
            # a second node-keyed join per round
            F.col("component").alias("prev_component"),
            F.least(
                F.col("component"),
                F.coalesce("neighbor_component", "component"),
            ).alias("component"),
        )
        # Pointer doubling: follow component → that node's component.
        # Labels only ever decrease, so L(L(x)) ≤ L(x) and every label
        # path halves per round — O(log diameter) total.
        updated = (
            propagated.join(
                propagated.select(
                    F.col("node").alias("component"),
                    F.col("component").alias("grandparent"),
                ),
                on="component",
                how="left",
            )
            .select(
                "node",
                "prev_component",
                F.coalesce("grandparent", "component").alias("component"),
            )
        )
        updated = share(updated, eager=True)
        # labels only ever decrease, so "any row changed this round" is
        # exactly the fixed-point probe; isEmpty short-circuits on the
        # first changed row instead of counting them all
        converged = updated.filter(
            F.col("component") != F.col("prev_component")
        ).isEmpty()
        labels = updated.select("node", "component")
        if converged:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (diameter-bound)"
    )


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    survivor_by: str | None = None,
) -> DataFrame:
    """Collapse near-dup PAIRS into one surviving row per duplicate
    cluster: rows never appearing in ``pairs`` survive untouched; within
    each connected component only the minimum-id row survives (the same
    declared lowest-id-wins rule as ``dedup.exact_dedup``, now applied
    transitively — A≈B and B≈C drops both B and C even when A≉C
    directly).

    ``survivor_by`` names a NUMERIC column of ``df`` to prefer instead:
    the highest-scoring member of each component survives, NULL scores
    lose to every scored member, lowest id breaking ties
    (keep-the-best-copy dedup à la RefinedWeb/FineWeb).
    The arg-max runs over CLUSTERED ids only — scores join onto the
    component label frame (nodes, not bodies), so the extra cost is one
    keyed join + one map-side-combinable aggregate on the near-dup
    sliver of the corpus."""
    components = connected_components(pairs, a_col, b_col)
    if survivor_by is None:
        losers = components.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        scored = components.join(
            df.select(
                F.col(id_col).alias("node"), F.col(survivor_by).alias("__q")
            ),
            on="node",
        )
        # min(struct(q IS NULL, -q, id)) == arg-max on (q DESC NULLS
        # LAST, then lowest id); same single-aggregate trick as
        # exact_dedup(survivor_by=...) — the leading null flag keeps a
        # NULL score from sorting first and winning the cluster.
        winners = (
            scored.groupBy("component")
            .agg(
                F.min(
                    F.struct(
                        F.col("__q").isNull().alias("__qnull"),
                        (-F.col("__q")).alias("__negq"),
                        F.col("node").alias("__id"),
                    )
                ).alias("__w")
            )
            .select(F.col("__w.__id").alias("node"))
        )
        losers = components.join(winners, on="node", how="left_anti").select(
            F.col("node").alias(id_col)
        )
    return df.join(losers, on=id_col, how="left_anti")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 15,
) -> DataFrame:
    """Weighted PageRank over a directed edge list → ``(node, pr)``.

    The web-graph centrality score LLM crawl pipelines use for document
    quality weighting (harmonic-centrality/PageRank filtering à la Common
    Crawl derivatives).  Semantics (declared so the fixed-iteration oracle
    is exact):

    * transition probability out of ``u`` is ``w(u,v) / Σ_v w(u,v)``
      (uniform when ``weight_col`` is None);
    * dangling mass (nodes with no out-edges) is redistributed uniformly
      every round, so ``Σ pr == 1`` is an invariant;
    * an edge with a NULL ``src`` or ``dst`` is ignored, so no NULL node
      is ranked (a NULL id cannot be joined back, and its mass would
      break the invariant);
    * exactly ``n_iter`` synchronous rounds — a fixed round count rather
      than an epsilon stop, because two engines agreeing on "converged"
      is a float question while agreeing on round 15 is not.  15 rounds
      reduce the residual by damping^15 ≈ 0.09% of the initial gap, past
      single-float noise for ranking use.

    Scale shape per round: ONE left join of current ranks against the
    normalized edge list + ONE sum-aggregation — the dangling mass rides
    the same aggregation as the NULL-dst group (a rank row with no
    out-edges contributes its whole pr there), so no separate anti-join
    pass exists; the scalar comes back as one driver row per round and
    re-enters the next round as a literal.  Shuffles carry (node, rank)
    pairs only.  Edge normalization
    is computed ONCE and shared; per-round lineage is truncated by
    LAZILY sharing the tiny (dst, mass) AGG frame — ranks itself
    stays a constant-depth derivation from it, so plans never grow, and
    a fixed-round loop needs no per-round materialization job (measured
    warm at sf0.1: ~3.9s vs ~4.4s eager vs ~4.6-6s checkpointing ranks
    directly, which is referenced twice per round and doubles the plan;
    the residual is ~0.25s/round of local-mode job latency, constant in
    data size — at cluster scale the per-round shuffle dominates and
    this one-join-one-agg round is the minimal shape).
    """
    if not 0.0 <= damping <= 1.0:
        # damping outside [0, 1] silently emits out-of-theory ranks
        # (negative teleport mass) that still sum to 1, so nothing
        # downstream would notice.  The boundaries are well-defined:
        # 0 = uniform teleport only, 1 = pure power iteration.
        raise ValueError(f"pagerank: damping must be in [0, 1], got {damping}")
    if n_iter < 0:
        raise ValueError(f"pagerank: n_iter must be >= 0, got {n_iter}")
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = share(
        # out_w > 0 guard: a node whose out-edges all carry zero weight
        # has no defined transition distribution — its edges are dropped
        # so the node becomes DANGLING (left-join miss below) and its
        # mass redistributes like any sink's.  Without the filter, w/0
        # faults under ANSI (and silently NULLed the node's whole mass
        # out of the Σpr==1 invariant under non-ANSI).
        e.join(out_w, on="src")
        .filter(F.col("out_w") > 0)
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
    )
    nodes = share(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # bound: one row
    if n == 0:
        raise ValueError("pagerank: empty edge list (no nodes to rank)")
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    # Every node rides the round's ONE aggregation via a zero-mass seed
    # row, so the aggregate's output already contains every node and no
    # per-round `nodes LEFT JOIN agg` re-attachment (a second node-keyed
    # shuffle join per round) is needed.  Adding 0.0 to an IEEE sum is
    # an identity (and an empty group sums to an exact 0.0), so ranks
    # are bit-equal up to the sum's already-nondeterministic partial
    # order.
    zero_seed = nodes.select(F.col("node").alias("dst"), F.lit(0.0).alias("c"))
    for _ in range(n_iter):
        # One pass: matched rows emit pr*p toward their dst; a dangling
        # node (no out-edges → no match) emits its whole pr into the
        # NULL-dst group, which IS the dangling mass.
        contrib = ranks.join(
            norm, ranks["node"] == norm["src"], "left"
        ).select(
            "dst",
            F.when(F.col("src").isNull(), F.col("pr"))
            .otherwise(F.col("pr") * F.col("p"))
            .alias("c"),
        )
        agg = share(
            contrib.unionByName(zero_seed)
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        # The dangling mass is ONE bounded scalar per round.  Fetching
        # it on the driver makes the SAME action materialize the round's
        # lazy share AND return the scalar — one job per round, where a
        # BroadcastExchange + crossJoin shape pays two (checkpoint
        # materialization, then the broadcast build).
        d_row = (
            agg.filter(F.col("dst").isNull())
            .select(F.coalesce(F.sum("mass"), F.lit(0.0)).alias("dm"))
            # bound: one row
            .first()
        )
        dangling_mass = float(d_row["dm"]) if d_row is not None else 0.0
        ranks = (
            agg.filter(F.col("dst").isNotNull())
            .withColumnRenamed("dst", "node")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.col("mass") + F.lit(dangling_mass / float(n)))
                ).alias("pr"),
            )
        )
    return ranks


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Merge a NEW batch of edges into existing ``(node, component)``
    labels WITHOUT re-running CC over the historical edge list — the
    incremental clustering step a nightly near-dup pipeline runs after
    `dedup.incremental_minhash_near_dups` finds tonight's pairs.

    The old labels re-enter as STAR edges (node — its component root):
    contracting a connected subgraph preserves connectivity, so CC over
    (stars ∪ new edges) has exactly the components of CC over
    (all historical edges ∪ new edges) — proved by the ==full-recompute
    test.  Cost: the input is |old labeled nodes| + |new edges| rows —
    the historical EDGE list is never needed again (the labels table is
    the persisted state, the same philosophy as the appendable MinHash
    band table); rounds scale with the diameter of the NEW merge
    structure since old components arrive pre-collapsed (diameter ≤ 2).
    Old nodes untouched by new edges keep their labels verbatim.
    """
    star = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(a_col), F.col("component").alias(b_col)
    )
    combined = star.unionByName(
        new_edges.select(
            F.col(a_col).cast(labels.schema["node"].dataType),
            F.col(b_col).cast(labels.schema["node"].dataType),
        ).toDF(a_col, b_col)
    )
    cc = connected_components(combined, a_col, b_col, max_iter)
    untouched = labels.join(cc.select("node"), on="node", how="left_anti")
    return cc.unionByName(untouched.select("node", "component"))


def triangles_per_vertex(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Exact triangle participation count per vertex — the local
    clustering / community-density primitive (spam-farm detection in
    crawl graphs, cohesion scoring in interaction graphs).  Vertices in
    no triangle are absent from the output; the global triangle count is
    ``sum(n_triangles) / 3``.

    The 100 TB shape is DEGREE ORIENTATION (the classic heavy-hitter
    fix): canonicalize the undirected edge list, orient every edge from
    its (degree, id)-lower endpoint to the higher, then count wedges
    (u→v, u→w) closed by an oriented (v→w) edge.  Orientation bounds
    every vertex's out-degree by O(√|E|) — a celebrity node with 10⁸
    followers contributes wedges only through its few HIGHER-degree
    neighbors, instead of the 10¹⁶ all-pairs a naive neighbor self-join
    would generate.  Three equi-joins, no windows, no driver state;
    each triangle is counted exactly once (its corners are totally
    ordered by the orientation rank).
    """
    e = edges.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    # Three frames are shared: without them the plan re-derives `und`
    # for both degree-union sides plus the orientation join, `oriented`
    # for both wedge self-join sides plus the closure probe, and `tri`
    # for all three corner-union branches — 9 copies of the
    # dedup/degree/orientation pipeline in one plan.  Each frame is 2-3
    # long columns.
    und = share(
        e.filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wd = und.join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
    a_lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = share(
        wd.select(
            F.when(a_lower, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_lower, F.col("b")).otherwise(F.col("a")).alias("v"),
            # the dst endpoint's (degree, id) rank, carried so wedge pairs
            # order and the closure edge's orientation is known v→w
            F.when(a_lower, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    rank_lt = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    wedges = e1.join(e2, on=(F.col("e1.u") == F.col("e2.u")) & rank_lt).select(
        F.col("e1.u").alias("u"),
        F.col("e1.v").alias("v"),
        F.col("e2.v").alias("w"),
    )
    closer = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tri = share(wedges.join(closer, on=["v", "w"]))
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 100,
) -> DataFrame:
    """Exact k-core decomposition membership: the maximal subgraph where
    every vertex keeps degree ≥ k — the standard density filter for
    crawl/link graphs (spam farms and boilerplate nav structures live in
    high cores; singleton chains and tendrils peel away).  Returns
    ``(node, degree)`` with each surviving node's degree INSIDE the
    core.

    Algorithm: iterative peeling.  Each round computes degrees over the
    surviving edge set (one symmetric groupBy), drops vertices below
    ``k`` and their incident edges (two semi-joins), and stops at the
    fixed point.  Rounds are bounded by the longest peel chain (≤ |V|
    pathologically, ~O(log) on real power-law graphs); each round
    shuffles (node, degree) pairs and edge ids only.  Lineage is
    truncated per round like :func:`connected_components`; the
    convergence probe is one bounded count per round.

    Cited parity: the reference has no graph surface; this extends the
    dedup/graph family (SURVEY.md §2.11) the same way
    :func:`triangles_per_vertex` does.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    und = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    cur = share(und, eager=True)
    n_edges = cur.count()  # bound: one row
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        deg = (
            cur.select(F.col("a").alias("v"))
            .unionAll(cur.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        nxt = share(
            cur.join(keep.withColumnRenamed("v", "a"), "a", "left_semi").join(
                keep.withColumnRenamed("v", "b"), "b", "left_semi"
            ),
            eager=True,
        )
        n_next = nxt.count()  # bound: one row
        cur = nxt
        if n_next in (n_edges, 0):  # no vertex fell below k -> fixed point
            converged = True
        n_edges = n_next
    if not converged:
        # silent truncation would break the "exact k-core" claim: a long
        # peel chain (path graphs peel ~2 nodes/round) can outlast any
        # fixed round budget — surface it instead of returning a
        # superset of the core.
        raise RuntimeError(
            f"kcore did not reach a fixed point in {max_iter} rounds; "
            "raise max_iter (peel depth exceeds the budget)"
        )
    deg = (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # k=1 admits isolated-edge endpoints only (degree >= 1 inside the
    # surviving subgraph is implied by appearing in an edge at all).
    return deg
