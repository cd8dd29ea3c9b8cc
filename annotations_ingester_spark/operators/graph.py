"""Graph analytics over derived edge tables (similarity graphs, interaction
graphs).

The corpus-scale graphs this engine produces — near-duplicate candidate
graphs from LSH, user/entity interaction graphs from event streams — need
two classic measurements: local clustering (triangles / transitivity, the
health metric for a dedup candidate graph: duplicate clusters are cliques,
spurious LSH collisions are isolated wedges) and node importance
(PageRank, the canonical importance measure for interaction graphs).

Scale shapes:

- **Triangles**: node-id orientation (every undirected edge stored once as
  ``src < dst``) makes each triangle counted exactly once; the count is a
  wedge build (self-join on the lower endpoint — shuffle keyed on node id)
  hash-joined against the edge set (shuffle on the closing edge's key
  pair). Cost is Σ_v deg⁺(v)², the standard oriented-join bound — never
  an all-pairs product. Skewed hubs are bounded by orientation (deg⁺ ≤
  deg, and high-degree nodes get mostly *incoming* orientation).
- **PageRank**: the iterative-template shape (same as connected components
  in operators/cluster.py): per iteration one shuffle keyed on dst to sum
  contributions plus one broadcast-free equi-join back to out-degrees.
  Ranks are carried as rounded-decimal contributions so sums are EXACT and
  engine-portable regardless of partition/accumulation order — a scalar
  tolerance check is all that ever reaches the driver in a full fit loop.

Reference parity: the reference engine has no graph operators
(ingester/*.py is an ES→NLP→ES pipeline); these extend the north-star
training-data surface (duplicate-cluster diagnostics over LSH output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirected_canonical(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonicalize an edge list to distinct undirected edges with
    ``src < dst`` (drops self-loops). One shuffle (distinct on the pair)."""
    lo = F.least(F.col(src), F.col(dst))
    hi = F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(lo.alias("src"), hi.alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph given as canonical
    ``(src, dst)`` edges (``src < dst``, distinct — see
    :func:`undirected_canonical`).

    Returns ONE row: ``n_nodes, n_edges, n_wedges, n_triangles,
    transitivity`` where ``transitivity = 3·triangles / wedges`` (global
    clustering coefficient, 0 when the graph has no wedges).

    Plan: oriented wedge enumeration — for each lower endpoint ``u``,
    pairs of oriented neighbors ``v < w`` (self-join of the oriented edge
    list on ``u``), then an equi-join probing whether the closing edge
    ``(v, w)`` exists. Wedge COUNTS for transitivity come from the full
    undirected degree sequence (Σ deg·(deg−1)/2), one extra map-side-
    combinable aggregate.

    The edge list is consumed SIX times (two degree branches, both wedge
    sides, the closing-edge probe, the edge count) — and the graphs this
    engine feeds it are DERIVED (LSH candidate generation), so consuming
    the raw lineage 6× would re-run candidate generation 6× (the exact
    double-execution class the r5 connected-components fix addressed,
    now caught mechanically by the scan-multiplicity audit). The edge
    list is materialized ONCE via localCheckpoint; the census is then
    pure join work over materialized edges.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)

    # undirected degrees: each edge contributes to both endpoints
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # per-node wedge count deg·(deg−1)/2 is an exact integer — divide (via
    # shift; the product is always even) BEFORE the sum so the whole census
    # stays in integer arithmetic (no double round-trip to break at 2^53)
    base = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(
            F.shiftright(F.col("deg") * (F.col("deg") - F.lit(1)), 1)
        ).alias("n_wedges"),
    )

    # oriented wedges at the lower endpoint u: (u,v),(u,w) with v < w;
    # the closing edge (v,w) is already canonical, so one equi-join probes it
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    tri = wedges.join(
        e.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"]
    ).agg(F.count("*").alias("n_triangles"))

    n_edges = e.agg(F.count("*").alias("n_edges"))
    out = base.crossJoin(n_edges).crossJoin(tri)  # three 1-row sides
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("transitivity"),
    )


def pagerank_iterations(
    edges: DataFrame,
    n_iters: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Weighted PageRank, ``n_iters`` synchronous iterations from uniform
    rank 1.0 per node (the unnormalized formulation:
    ``r' = (1-d) + d · Σ_in r·w/out_w``). Returns ``(node, rank)``.

    Engine-portable determinism: per-edge contributions are computed in
    double precision (deterministic given identical operands), rounded to
    10 dp and cast to DECIMAL(28,10) **before** the sum — decimal sums are
    exact under any accumulation order, so a DuckDB oracle running the
    same unrolled iterations hash-matches bit-for-bit. Nodes without
    out-edges keep receiving but do not redistribute (standard dangling
    simplification; the graphs we feed it — bipartite interaction graphs
    with both directions materialized — have none).

    Scale: per iteration one shuffle keyed on ``dst`` (contribution sum)
    and one equi-join of ranks back onto the edge list keyed on ``src``;
    rank state is one row per node. A convergence-loop wrapper would add
    only the round-to-round ``materialize.Scope`` generations of the
    connected-components loop.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # Materialize the weighted edge list and node set ONCE: every
    # iteration joins ranks onto e and re-anchors on nodes, and the
    # unrolled-lineage alternative re-derives the (often expensive) edge
    # computation per consumption — the executed plan scanned the source
    # 32× before this checkpoint (scan-multiplicity audit). Same posture
    # as kmeans_fit's fit-scoped persist.
    e = e.join(out_w, "src").localCheckpoint(eager=True)

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))

    base = float(1.0 - damping)
    for _ in range(n_iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") * F.col("w") / F.col("out_w"), 10)
                .cast("decimal(28,10)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)), 10
            ).alias("rank"),
        )
    return ranks


def label_propagation_iterations(
    edges: DataFrame, n_iters: int = 2, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts labeled with itself; each iteration every node adopts the
    label with the LARGEST total incident edge weight among its
    neighbors' current labels (ties broken by the smallest label — the
    deterministic tie-break that makes sync LPA engine-portable, where
    textbook random tie-breaking makes it irreproducible). Edges must
    carry integer weight column ``w`` and both directions (an undirected
    graph passes each edge twice).

    Scale shape: the iterative-template (PageRank/CC) shape — per
    iteration one join of labels onto edges keyed on ``src``, one
    (dst, label) weight aggregate, one per-dst arg-max window (bounded
    by the node's distinct neighbor labels, never the graph). Labels are
    strings; weights exact integers — nothing floats, so the unrolled
    SQL twin matches bit-for-bit."""
    from pyspark.sql import Window

    # materialize the (usually derived) edge list ONCE — it is consumed
    # by the node set and by every iteration's label join (same fix as
    # triangle_stats/pagerank_iterations: the consumed-N-times class)
    edges = edges.select(src, dst, "w").localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)  # feeds every iteration's outer join
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iters):
        scored = (
            edges.join(labels, edges[src] == labels["node"])
            .select(F.col(dst).alias("n2"), "label", "w")
            .groupBy("n2", "label")
            .agg(F.sum("w").cast("long").alias("tw"))
        )
        wmax = Window.partitionBy("n2").orderBy(
            F.col("tw").desc(), F.col("label").asc()
        )
        best = (
            scored.withColumn("_rn", F.row_number().over(wmax))
            .filter(F.col("_rn") == 1)
            .select(F.col("n2").alias("node"), "label")
        )
        # isolated nodes (no incident edges) keep their current label
        labels = nodes.join(best, "node", "left").select(
            "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
        )
    return labels


def k_core_subgraph(
    edges: DataFrame, k: int = 2, n_iters: int = 4
) -> DataFrame:
    """Iterative k-core peeling over an undirected edge list (``src`` <
    ``dst``, each edge stored once): repeat ``n_iters`` times — compute
    node degrees, keep nodes with degree >= k, restrict edges to kept
    endpoints — then return the surviving nodes with their degree in the
    final subgraph, ``(node, deg)``.

    The iteration count is a PINNED job parameter, not a convergence
    loop: both engines of a parity pair must peel the same number of
    rounds (the oracle unrolls the same count), and at real scale a
    fixed small round count is the honest contract anyway — each peel is
    one degree aggregate (map-side combinable) plus two semi-joins, and
    the edge frame is checkpointed per round through a
    :class:`~annotations_ingester_spark.materialize.Scope` so lineage
    stays flat AND the previous round's checkpoint blocks are freed once
    the new round materializes — at most two edge-set generations live in
    executor storage instead of ``n_iters`` (the cluster.py discipline;
    raw per-round ``localCheckpoint`` is the eviction-storm pattern
    materialize.py documents). The scope is never closed: the caller's
    scope frees the final generation. Degrees only shrink, so a fixpoint
    reached early just makes later rounds no-ops.
    """
    from annotations_ingester_spark.materialize import Scope

    scope = Scope(edges.sparkSession)
    e = scope.checkpoint(edges)
    for _ in range(n_iters):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = scope.checkpoint(
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        # the new edge set is eagerly materialized and nothing reads the
        # previous generation again — free its blocks now
        scope.retire_previous()
    return (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Newman's degree-assortativity coefficient r over an undirected edge
    list (``src`` < ``dst``, each edge once): the Pearson correlation of
    endpoint degrees over DIRECTED edge instances (each edge contributes
    both orientations, the standard convention) →
    ``(n_directed_edges, assortativity)``.

    Moments are exact integer/DECIMAL sums over the edge-degree join; the
    correlation is one shared IEEE tree rounded once. Two eager
    checkpoints: the edge frame because the orientation union feeds both
    the degree rollup and the pair join (cost ~ |E|, never all-pairs),
    the degree frame because the pair join reads it twice (dx/dy sides).
    Both feed the one final moments job, so both stay live until the
    caller executes the result — exactly two bounded frames (|E| edges +
    |V| degree rows), freed by the caller's ``materialize.Scope``.
    """
    e = edges.localCheckpoint(eager=True)
    und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    pairs = (
        und.join(deg.select(F.col("node").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst")
        .select("dx", "dy")
    )
    m = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    dx2 = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    dy2 = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy")
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.round(num / F.sqrt(dx2 * dy2), 6).alias("assortativity"),
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over an undirected canonical
    edge list (``src`` < ``dst``, distinct): for every node,
    ``(node, deg, n_tri, local_cc)`` where ``n_tri`` is the number of
    triangles through the node and
    ``local_cc = 2·n_tri / (deg·(deg−1))`` (0.0 for degree < 2) — the
    Watts-Strogatz per-node refinement of :func:`triangle_stats`'s
    global transitivity.

    Plan: the same oriented wedge enumeration as :func:`triangle_stats`
    (pairs of oriented neighbors ``v < w`` of each lower endpoint ``u``,
    closed by an equi-join probe for ``(v, w)``) — each closed triangle
    instance then credits all three corners, one union + key aggregate.
    The edge list is consumed five times (two degree branches, two wedge
    sides, the closing probe), so it is localCheckpoint'ed ONCE; every
    join is an equi-join on node keys (never all-pairs), and the
    per-node division stays exact (the numerator is doubled instead of
    halving the always-even denominator product).
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    w1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    w2 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    tri = wedges.join(
        e.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"]
    )
    tri_nodes = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    return (
        deg.join(tri_nodes, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("n_tri"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("local_cc"),
        )
    )


def two_hop_reach(edges: DataFrame, hub_cap: int = 64) -> DataFrame:
    """Per-node 2-hop neighborhood size over an undirected canonical edge
    list (``src`` < ``dst``, distinct): ``(node, deg, reach_2hop)`` where
    ``reach_2hop`` counts the distinct nodes within graph distance <= 2
    (self excluded), with 2-hop paths pivoting ONLY through middle nodes
    of degree <= ``hub_cap`` — the local-density companion to
    :func:`local_clustering` (a node with high degree but small 2-hop
    reach sits inside a dense near-clique; dedup clusters look exactly
    like that, spurious LSH collisions do not).

    Plan: bidirect the edge list once, one self-equi-join on the middle
    node for the 2-hop frontier, union with the 1-hop frontier, distinct
    + count per node. The bidirected list is consumed three times (both
    join sides + the 1-hop union), so it is localCheckpoint'ed ONCE.

    The hub cap is the super-node exclusion (same pattern as the
    common-neighbor link-prediction wedge join): uncapped, the middle
    join costs Σ deg(m)² — quadratic in the degree of the worst hub, so
    one degenerate LSH band key (a viral near-dup cluster at 100×) makes
    it blow up. Capped, the cost is Σ_{deg(m)<=cap} deg(m)² <= cap · 2E —
    linear in the edge count. Semantically, reach through a hub is the
    least informative part of the metric (a hub's neighborhood is the
    whole cluster anyway); callers wanting exact reach on a
    known-bounded graph can raise the cap.
    """
    e = edges.select("src", "dst")
    bid = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = bid.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    low = deg.filter(F.col("deg") <= hub_cap).select(F.col("node").alias("m"))
    mid = bid.select(F.col("src").alias("a"), F.col("dst").alias("m")).join(low, "m")
    out = bid.select(F.col("src").alias("m"), F.col("dst").alias("b"))
    two = (
        mid.join(out, "m")
        .filter(F.col("a") != F.col("b"))
        .select(F.col("a").alias("node"), F.col("b").alias("nb"))
    )
    one = bid.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
    reach = (
        one.unionAll(two)
        .distinct()
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("reach_2hop"))
    )
    return deg.join(reach, "node").select("node", "deg", "reach_2hop")
