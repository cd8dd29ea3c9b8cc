"""Connected components over candidate-pair graphs — duplicate clustering.

Dedup pipelines end with: candidate pairs (LSH) → connected components →
one survivor per component. Spark has no native CC. The oriented edges
(larger→smaller, self-loops dropped, repeats kept) are pinned by a lazy
checkpoint, and one ``limit(LOCAL_MAX_EDGES + 1).collect()`` both probes
their count and fetches them, before any shuffle. Two regimes follow, one
code path each:

- **≤ LOCAL_MAX_EDGES edge rows** (every catalog query up to sf0.1): the
  driver labels the nodes by union-find with min-id roots (repeated edges
  are no-op unions) and returns the labels as a local frame. The
  checkpoint is released, since the local frame does not read it.
  Per-round Spark jobs would pay the fixed per-job cost for a graph of a
  few kilobytes.
- **more edges**: the pinned edges are deduplicated into the canonical
  edge set (checkpointed; the caller's pair generation is not re-run),
  and the alternating **large-star / small-star** contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) runs distributed from it, so the labels never leave the
  cluster:

    large-star: every neighbor LARGER than a node re-links to the node's
                minimum neighborhood member;
    small-star: every neighbor SMALLER than a node (and the node itself)
                re-links to that minimum.

  Each round is two join+agg passes (shuffles keyed on node id) and
  contracts path lengths multiplicatively, so the fixpoint — every node
  linked directly to its component minimum — arrives in **O(log n)**
  rounds regardless of component diameter. Plain min-label propagation
  (the r2 implementation) needs O(diameter) rounds: a 1000-link chain
  takes 1000 iterations there but ~10 here (pytest pins this on a chain
  graph).

  Convergence is detected by an actual edge-set fixpoint (small-star
  output unchanged), not a "did the last pass write anything" heuristic —
  so a graph that converges exactly on the final permitted round is
  reported converged, and the non-convergence error can't fire spuriously
  (r2 advice). The driver loop holds only scalar counts. This is the
  engine's "iterative algorithm" template (PageRank, label propagation, …
  share the shape).

Both regimes return the same rows: cluster_id is the component's minimum
node id either way.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from annotations_ingester_spark.materialize import Scope

# Most oriented edge rows (self-loops dropped, repeats counted) the probe
# collects for the driver to finish. Sized in driver Python memory, not
# rows: a collected Row of two ids is ~400 B (the Row tuple, its per-row
# field list, two int objects), and the union-find dict plus the label
# tuples add ~200 B per edge (≤ 2 new nodes per edge) — ~600 B/edge at
# peak, measured with tracemalloc on random 64-bit ids. 2^16 edges ≈ 40 MB,
# inside a ~64 MB budget; 2^17 would not be. The pandas/Arrow hand-off of
# the labels is 2 × 8 B per node on top.
LOCAL_MAX_EDGES = 1 << 16


def _oriented(edges: DataFrame) -> DataFrame:
    """Directed larger→smaller edges, self-loops dropped, repeats kept."""
    return edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).filter(F.col("u") != F.col("v"))


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v > u, where m(u) = min(Γ(u) ∪ {u}).

    Output is already larger→smaller oriented (v > u ≥ m) but NOT
    deduplicated — the downstream small-star min-aggregate tolerates
    duplicates, so skipping the distinct here saves a shuffle per round."""
    adj = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        adj.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", "u").alias("m"))
    )
    return (
        adj.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(s: DataFrame) -> DataFrame:
    """Re-link each node's smaller neighbors (and itself) to their minimum.
    Input must be larger→smaller oriented (duplicates fine — the min-agg
    absorbs them); output is canonical distinct, the round's only dedup
    shuffle."""
    mins = s.groupBy("u").agg(F.min("v").alias("m"))  # all v < u ⇒ m < u
    relink = (
        s.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select("u", F.col("m").alias("v"))
    return relink.unionByName(self_link).distinct()


def _union_find_labels(edges) -> list[tuple]:
    """(node, min node id of its component) for every node of ``edges``.
    Union always hangs the larger root under the smaller, so every root is
    its component's minimum; path halving keeps finds short."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
    return_rounds: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """(node, cluster_id) for every node in ``edges``; cluster_id = min node
    id in the component. Undirected; only nodes appearing in edges emerge
    (singletons need no clustering; a degenerate self-loop ``u—u`` carries
    no clustering information and is likewise ignored — every caller here
    generates ``src < dst`` pairs, so none exist). ``return_rounds`` adds
    the number of distributed rounds run: 0 when the driver finished it."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # the scope frees each round's checkpoint blocks once the next round is
    # materialized — ≤2 edge-set generations live instead of max_iterations;
    # it is never closed on the distributed path: the caller's scope frees
    # the final generation
    spark = edges.sparkSession
    scope = Scope(spark)
    # the lazy checkpoint pins what the probe computes, so the distributed
    # branch's distinct reads the caller's pair generation from its blocks
    oriented = scope.checkpoint(_oriented(raw), eager=False)
    # one sequential probe both counts the edges and fetches a small set
    local = oriented.limit(LOCAL_MAX_EDGES + 1).collect()
    if len(local) <= LOCAL_MAX_EDGES:
        labels = _union_find_labels(local)
        schema = StructType(
            [
                StructField("node", oriented.schema["u"].dataType, False),
                StructField("cluster_id", oriented.schema["v"].dataType, False),
            ]
        )
        # the local frame does not read the checkpoint: free it now
        scope.close()
        # with Arrow enabled (session.py) a pandas frame becomes a local
        # relation in the JVM: the caller's action starts no Python worker
        out = spark.createDataFrame(pd.DataFrame(labels, columns=schema.names), schema)
        return (out, 0) if return_rounds else out
    del local
    e = scope.checkpoint(oriented.distinct())
    rounds = 0
    converged = False
    # termination: the algorithm converges exactly to star forests
    # (Kiveris et al., Thm 3) — detect the star directly (every source has
    # one target and no target is itself a source) instead of paying a
    # full extra contraction round to observe e_{n+1} == e_n.
    for _ in range(max_iterations):
        rounds += 1
        # One job per round: the checkpoint is lazy and the star-forest
        # flag is one full-pass aggregate over it, so every partition of
        # the new edge set is computed (and persisted by the checkpoint)
        # exactly once inside the flag job. The flag action must touch
        # every partition: limit-1 probes over a lazy checkpoint race to
        # compute the same partitions and leave some uncached (measured
        # slower in r12).
        # Flag: a node breaks the star property iff it has >= 2 outgoing
        # edges (multi-target) or appears as both a source and a target
        # (chain).
        e = scope.checkpoint(_small_star(_large_star(e)), eager=False)
        roles = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("node"), F.lit(1).alias("s")),
                    F.struct(F.col("v").alias("node"), F.lit(0).alias("s")),
                )
            ).alias("r")
        )
        bad = (
            roles.groupBy(F.col("r.node").alias("node"))
            .agg(F.sum("r.s").alias("ns"), F.count(F.lit(1)).alias("nt"))
            .agg(
                F.max(
                    (F.col("ns") >= 2)
                    | ((F.col("ns") >= 1) & (F.col("nt") > F.col("ns")))
                ).alias("bad")
            )
            .collect()[0]["bad"]
        )
        # e is fully materialized by the flag job; the previous edge set
        # has no remaining readers
        scope.retire_previous()
        if not bad:  # None = empty edge set: trivially a star forest
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iterations} "
            "rounds — star contraction needs O(log n); this graph is "
            "pathological or max_iterations is set far too low"
        )
    # At fixpoint every non-root points straight at its component minimum,
    # and the star forest mentions EVERY node of the canonical graph: each
    # component has ≥2 nodes, non-roots appear as u, roots as the shared v.
    # Labels therefore come straight off the final (checkpointed) edge set
    # — no join against a separately-derived node frame. (An earlier
    # version joined against nodes built from the RAW edge lineage, which
    # re-ran the caller's whole candidate-pair generation — LSH banding,
    # blocked levenshtein, the expensive part of the job — a second time
    # at collect.)
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")).distinct()
        )
    )
    return (labels, rounds) if return_rounds else labels


def dedup_survivors(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per cluster (the cluster_id row itself) plus all
    unclustered rows — the final dedup application step."""
    clustered = components.select(
        F.col("node").alias(id_col), F.col("cluster_id")
    )
    joined = df.join(clustered, on=id_col, how="left")
    return joined.filter(
        F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id"))
    ).drop("cluster_id")
