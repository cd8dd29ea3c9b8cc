"""Similarity search over embedding columns (``array<float>``).

Two paths, as a production ANN stack would be tiered:

- **brute-force top-k** (the exactness baseline): broadcast the query set,
  score every (query, candidate) pair with codegen'd zip_with/aggregate
  dot products, take top-k per query via a ranked window. Cost O(N·Q·d)
  but embarrassingly parallel — no shuffle except the final per-query
  window (Q partitions). Right answer for small Q at any N.
- **bucketed ANN** (the scale path): LSH-style sign buckets (axis-aligned
  hyperplanes over the leading dimensions, functions/vectors.sign_bucket)
  turn the cross join into an equi-join on bucket id — candidates ~N/2^bits
  per query. The recall/cost trade scales with ``n_bits``; multi-probe =
  union of neighbor buckets (future work).

Ranking is made total and engine-portable by ordering on the *rounded*
cosine (6 dp) with an id tie-break — a double-precision ulp can differ
between engines' fold orders; 6 dp cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from annotations_ingester_spark.functions.vectors import (
    cosine_from_norms,
    l2_norm,
    sign_bucket,
)

# round count of the most recent kmeans_fit call in this process —
# observability for bench/driver logs (proves convergence-by-tolerance)
LAST_FIT_ITERATIONS: int | None = None


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact cosine top-k: (q_id, vec_id, cos, rank), rank 1..k.
    Norms are pre-folded on both sides (functions/vectors.cosine_from_norms)
    so each of the N·Q pairs costs one cross dot, not three folds."""
    q = queries.select(
        F.col(id_col).alias(query_id_col) if query_id_col not in queries.columns else F.col(query_id_col),
        F.col(vec_col).alias("_q_vec"),
        l2_norm(vec_col).alias("_qn"),
    )
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_cn")
    )
    pairs = emb.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col(query_id_col))
    scored = pairs.select(
        query_id_col,
        id_col,
        F.round(cosine_from_norms("_q_vec", vec_col, "_qn", "_cn"), 6).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Bucketed ANN top-k: candidates share the query's sign bucket.
    Same output shape as :func:`brute_force_topk` plus ``bucket``.
    Norms pre-folded on both sides — one cross dot per candidate pair."""
    bucketed = embeddings.withColumn(
        "bucket", sign_bucket(vec_col, n_bits)
    ).withColumn("_nrm", l2_norm(vec_col))
    q = bucketed.join(queries.select(id_col), on=id_col, how="left_semi").select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_q_vec"),
        F.col("_nrm").alias("_qn"),
        F.col("bucket"),
    )
    pairs = bucketed.join(F.broadcast(q), on="bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = pairs.select(
        query_id_col,
        id_col,
        "bucket",
        F.round(cosine_from_norms("_q_vec", vec_col, "_qn", "_nrm"), 6).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``, discovered
    within sign buckets (the scalable all-pairs: per-bucket self-join, not
    corpus-wide cross join). Norms pre-folded before the self-join."""
    b = embeddings.withColumn(
        "bucket", sign_bucket(vec_col, n_bits)
    ).withColumn("_nrm", l2_norm(vec_col))
    a = b.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
        "bucket",
    )
    c = b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
        "bucket",
    )
    pairs = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            "bucket",
            F.round(cosine_from_norms("_va", "_vb", "_na", "_nb"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN top-k: assign every vector to its nearest centroid
    (the coarse quantizer), then search only within the query's cell.

    ``nprobe`` is the standard IVF recall/cost dial: each query searches
    its ``nprobe`` nearest cells (base vectors stay single-assigned), so
    candidates ≈ nprobe · N / n_centroids per query.

    Scale shape: centroids are broadcast (a cross join against a handful of
    rows — a scan, not a shuffle); cell assignment is a ranked window per
    vector; the search joins cells, so candidates ≈ N / n_centroids per
    query. Assignment + ranking order on rounded cosine with id tie-breaks
    for engine-portable determinism.
    """
    cent = centroids.select(
        F.col(id_col).alias("_c_id"),
        F.col(vec_col).alias("_c_vec"),
        l2_norm(vec_col).alias("_c_nrm"),
    )
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_nrm")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        id_col,
        vec_col,
        "_nrm",
        "_c_id",
        F.round(cosine_from_norms(vec_col, "_c_vec", "_nrm", "_c_nrm"), 6).alias(
            "_ccos"
        ),
    )
    w_assign = Window.partitionBy(id_col).orderBy(F.desc("_ccos"), F.asc("_c_id"))
    assigned = scored.withColumn("_rn", F.row_number().over(w_assign))
    cells = assigned.filter(F.col("_rn") == 1).select(
        id_col, vec_col, "_nrm", F.col("_c_id").alias("cell")
    )
    q = assigned.filter(F.col("_rn") <= nprobe).join(
        queries.select(id_col), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_q_vec"),
        F.col("_nrm").alias("_qn"),
        F.col("_c_id").alias("cell"),
    )
    pairs = cells.join(F.broadcast(q), on="cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    ranked = pairs.select(
        query_id_col,
        id_col,
        "cell",
        F.round(cosine_from_norms("_q_vec", vec_col, "_qn", "_nrm"), 6).alias("cos"),
    )
    # no dedup needed at any nprobe: base vectors are single-assigned, so
    # cells are disjoint and each (query, candidate) pair joins once
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return ranked.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def multiprobe_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    n_probes: int | None = None,
) -> DataFrame:
    """Multi-probe bucketed ANN: each query searches its own sign bucket
    PLUS neighbor buckets at Hamming distance 1 (one sign flipped) — the
    standard recall fix for LSH bucketing at (n_probes)× candidate
    reads, still ≪ brute force. ``n_probes`` counts probed buckets
    INCLUDING the query's own (default ``n_bits + 1`` — all Hamming-1
    neighbors); lower values trade recall for candidate volume (the
    dial ann_nprobe_sweep measures)."""
    if n_probes is None:
        n_probes = n_bits + 1
    if not 1 <= n_probes <= n_bits + 1:
        raise ValueError(
            f"n_probes must be in [1, n_bits + 1] = [1, {n_bits + 1}]; "
            f"got {n_probes} (values above n_bits+1 would flip bits outside "
            "the bucket code domain and silently match nothing)"
        )
    bucketed = embeddings.withColumn(
        "bucket", sign_bucket(vec_col, n_bits)
    ).withColumn("_nrm", l2_norm(vec_col))
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(n_probes - 1)
        ],
    )
    q = (
        bucketed.join(queries.select(id_col), on=id_col, how="left_semi")
        .select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("_q_vec"),
            F.col("_nrm").alias("_qn"),
            F.explode(probes).alias("bucket"),
        )
    )
    pairs = bucketed.join(F.broadcast(q), on="bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = pairs.select(
        query_id_col,
        id_col,
        F.round(cosine_from_norms("_q_vec", vec_col, "_qn", "_nrm"), 6).alias("cos"),
    ).dropDuplicates([query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Below this many (vector, centroid) pairs the two-phase argmin's extra
# plan depth (window min + array rejoin) costs more than it saves — the
# plain one-pass decimal fold wins. Both regimes compute the IDENTICAL
# exact decimal argmin, so the switch is perf-only (r5 verdict: the
# two-phase fixed overhead regressed kmeans_fit_converged 2.4× at sf0.1
# where N·k is only 6e3; at sf1's 6.8e6 pairs two-phase is 25× faster).
CHEAP_ARGMIN_MAX_PAIRS = 1_000_000


def kmeans_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    dims: int | None = None,
    n_pairs_hint: int | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid by exact decimal L2² →
    (vec_id, centroid_id). The distance accumulates per-dimension squared
    differences as DECIMAL(28,12) (exact, engine-portable — no float fold
    order), so the argmin is deterministic; ties break on centroid id.

    Scale shape: centroids broadcast (k ≪ N always); the per-vector argmin
    is a window over k rows. This is the assignment step IVF indexing and
    Lloyd's iterations share.

    The distance is a per-row HOF fold over the zipped arrays — N·k rows
    total, no per-dimension explode (the posexplode formulation shuffled
    N·k·d rows through a groupBy; decimal addition is exact and
    associative, so the sequential fold equals the grouped sum
    bit-for-bit and the oracle is unchanged).

    Two-phase exact argmin (measured 174 s → 7 s on 20k vectors × 339
    centroids): phase 1 scores every pair with an UNROLLED double-
    precision distance (explicit per-dimension terms — Spark's zip_with/
    aggregate HOFs are interpreted per element, a lambda eval + boxing per
    dimension per pair; the unrolled expression is whole-stage-codegen
    arithmetic) and keeps only candidates within a float-error margin of
    each vector's per-partition window minimum (a broadcast-hash-join
    formulation of the same filter measured 33× slower — the min table
    rebuilt the probe stage; the window min shuffles only the NARROW
    (id, centroid, d2d) rows). Phase 2 re-joins the arrays for the ~N
    survivors, folds EXACT decimals, and takes the decimal argmin
    (centroid-id tie-break) via a map-side-combinable ``min_by``.
    Identical to the all-decimal argmin: a d-term double fold of exact
    inputs carries ≤ d ulp ≈ 1e-14 relative error, far inside the 1e-9
    relative margin — the true decimal argmin always survives phase 1,
    and every candidate the margin admits is re-judged exactly in
    phase 2. (The one-row ``first()`` peek reads the dimensionality at
    plan-build time.)

    Cheap regime: when the caller knows N·k (``n_pairs_hint``, e.g.
    ``kmeans_fit``'s N times its collected k) and it is under
    ``CHEAP_ARGMIN_MAX_PAIRS``, the two-phase machinery is skipped for a
    single-pass exact decimal fold over all pairs — same argmin
    bit-for-bit, a fraction of the plan depth. Without a hint the
    two-phase (scale-safe) path runs."""
    d2_sql = (
        "aggregate("
        " zip_with(_v, _cv, (a, b) ->"
        "   CAST((CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        "        * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) AS DECIMAL(28,12))),"
        " CAST(0 AS DECIMAL(28,12)),"
        " (acc, x) -> CAST(acc + x AS DECIMAL(28,12)))"
    )
    cent_small = centroids.select(F.col(centroid_id_col), F.col(vec_col).alias("_cv"))
    if n_pairs_hint is not None and n_pairs_hint < CHEAP_ARGMIN_MAX_PAIRS:
        pairs = embeddings.select(
            F.col(id_col), F.col(vec_col).alias("_v")
        ).crossJoin(F.broadcast(cent_small))
        d2 = pairs.select(id_col, centroid_id_col, F.expr(d2_sql).alias("d2"))
        return d2.groupBy(id_col).agg(
            F.min_by(
                F.col(centroid_id_col), F.struct(F.col("d2"), F.col(centroid_id_col))
            ).alias(centroid_id_col)
        )
    if dims is None:
        dims = len(embeddings.select(vec_col).first()[0])
    d2d_terms = []
    for i in range(1, dims + 1):
        diff = F.element_at(F.col("_v"), i).cast("double") - F.element_at(
            F.col("_cv"), i
        ).cast("double")
        d2d_terms.append(diff * diff)
    d2d = d2d_terms[0]
    for t in d2d_terms[1:]:
        d2d = d2d + t
    cent = cent_small
    pairs = embeddings.select(F.col(id_col), F.col(vec_col).alias("_v")).crossJoin(
        F.broadcast(cent)
    )
    scored = pairs.select(id_col, centroid_id_col, d2d.alias("_d2d"))
    wmin = F.min("_d2d").over(Window.partitionBy(id_col))
    cand_ids = (
        scored.withColumn("_mind", wmin)
        .filter(F.col("_d2d") <= F.col("_mind") * F.lit(1.0 + 1e-9) + F.lit(1e-12))
        .select(id_col, centroid_id_col)
    )
    cand = cand_ids.join(
        embeddings.select(F.col(id_col), F.col(vec_col).alias("_v")), id_col
    ).join(F.broadcast(cent), centroid_id_col)
    d2 = cand.select(id_col, centroid_id_col, F.expr(d2_sql).alias("d2"))
    return d2.groupBy(id_col).agg(
        F.min_by(
            F.col(centroid_id_col), F.struct(F.col("d2"), F.col(centroid_id_col))
        ).alias(centroid_id_col)
    )


def kmeans_lloyd_step(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    dims: int | None = None,
    n_pairs_hint: int | None = None,
) -> DataFrame:
    """One Lloyd iteration: assign + recompute per-dimension means →
    (centroid_id, dim, mean, n_members). Means sum exact decimals and
    divide once (rounded 6 dp) so iterations are reproducible across
    engines. The full k-means loop (``kmeans_fit``) collects this step's
    k·d rows each round — the centroid table, never the data, reaches the
    driver."""
    assign = kmeans_assign(
        embeddings, centroids, id_col, vec_col, centroid_id_col,
        dims=dims, n_pairs_hint=n_pairs_hint,
    )
    vd = embeddings.select(
        F.col(id_col), F.posexplode(vec_col).alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double").cast("decimal(28,12)"))
    return (
        vd.join(assign, id_col)
        .groupBy(centroid_id_col, "dim")
        .agg(
            F.round(F.sum("v").cast("double") / F.count("*"), 6).alias("mean"),
            F.count("*").alias("n_members"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
    )


def kmeans_fit(
    embeddings: DataFrame,
    initial_centroids: DataFrame,
    max_iterations: int = 20,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> tuple[DataFrame, int]:
    """Full k-means: Lloyd steps under a driver-side convergence loop.
    Returns (final (vec_id, centroid_id) assignment, iterations run).

    MLlib's own posture: each round collects the Lloyd step's k·d
    centroid means (driver payload bounded by the centroid table, never
    by N — one Spark action per round), the next centroid frame is a
    literal ``createDataFrame``, and the shift is exact double arithmetic
    in Python. Stops when every centroid coordinate moved < ``tol``.

    An emptied cluster does NOT silently shrink ``k`` (round-3 advice):
    its centroid carries over unchanged, so every one of the initial k
    centroid ids survives to the final assignment and can re-acquire
    members in a later round. An empty initial centroid set raises."""
    from pyspark import StorageLevel
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    # Persist the projected double vectors for the duration of the fit —
    # the iterative-ML posture MLlib itself takes: every iteration reads
    # the vectors 2-3× (assign pairs, phase-2 rejoin, mean posexplode),
    # and without a persist each read re-runs the caller's projection
    # lineage (often an interpreted per-element transform) plus the source
    # scan. MEMORY_AND_DISK spills instead of recomputing when executors
    # are tight. Unpersisted in the finally — the returned assignment
    # re-projects from the caller's frame, so no pin outlives the fit.
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cent_df = initial_centroids.select(
        F.col(centroid_id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    # centroid frames are rebuilt with the caller's ACTUAL id type —
    # string centroid ids are as valid as long ones
    schema = StructType(
        [
            StructField(centroid_id_col, cent_df.schema[centroid_id_col].dataType),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )
    try:
        # one fused job on the persisted frame: materializes the persist
        # and reads N plus the dimensionality (constant across rows, so
        # max(size) IS the peek — no separate one-row first() job)
        n, dims = emb.agg(F.count("*"), F.max(F.size(vec_col))).first()
        cent_local = {r[0]: list(r[1]) for r in cent_df.collect()}
        if not cent_local:
            raise ValueError(
                "kmeans_fit: centroid set is empty — initial_centroids had no rows"
            )
        n_pairs = n * len(cent_local)
        iterations = 0
        for _ in range(max_iterations):
            iterations += 1
            step = kmeans_lloyd_step(
                emb, cent_df, id_col, vec_col, centroid_id_col,
                dims=dims, n_pairs_hint=n_pairs,
            )
            by_cid: dict = {}
            for r in step.collect():  # k·d rows, bounded by the centroid table
                by_cid.setdefault(r[0], {})[r[1]] = r[2]
            shift = 0.0
            for cid, old_vec in cent_local.items():
                dim_means = by_cid.get(cid)
                if dim_means is None:  # empty cluster keeps its previous centroid
                    continue
                new_vec = [dim_means[i] for i in range(len(old_vec))]
                shift = max(shift, max(abs(a - b) for a, b in zip(old_vec, new_vec)))
                cent_local[cid] = new_vec
            cent_df = emb.sparkSession.createDataFrame(
                sorted(cent_local.items()), schema=schema
            )
            if shift < tol:
                break
        assign = kmeans_assign(
            emb, cent_df, id_col, vec_col, centroid_id_col,
            dims=dims, n_pairs_hint=n_pairs,
        )
    finally:
        emb.unpersist()
    global LAST_FIT_ITERATIONS
    LAST_FIT_ITERATIONS = iterations  # observability for bench/driver logs
    return assign, iterations


def semantic_dedup_pairs(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: assign every vector to
    its nearest centroid (broadcast k-means cells, exact-decimal argmin —
    :func:`kmeans_assign`), then compare pairs ONLY within a cell and keep
    cosine ≥ ``threshold``. Returns ``(centroid_id, id_a, id_b, cos)``.

    This is the embedding-space analogue of LSH banding: the cluster
    assignment is the bucket, so discovery is per-cell pairs — candidates
    ∝ Σ cell², never N². Pairs straddling a cell boundary are missed BY
    DESIGN (the SemDeDup trade: dedup within semantic clusters); the
    sign-bucket path (:func:`embedding_near_duplicates`) is the
    recall-oriented alternative.

    Each vector's L2 norm is folded ONCE before the per-cell self-join, so
    the per-pair cosine is a single cross dot product over two cached
    norms instead of three folds — measured 11.7 s → 10.0 s at sf1 and
    3.7 s → 2.7 s at sf0.1. (A grouped pair-comprehension variant that
    also halves the assignment work was measured equal-or-worse — the
    nested interpreted lambdas cost more than the saved assignment; see
    BENCH_SCALING.md for the same lesson on the ssjoin side.) The cosine
    value is identical: the norm is the same sequential sqrt-of-fold the
    inline helper computes, so the oracle is unchanged.
    """
    from annotations_ingester_spark.functions.vectors import dot_product, l2_norm

    # Materialize the NARROW (id, centroid) assignment once: the cell
    # frame below feeds both sides of the self-join, and re-deriving the
    # assignment per side re-runs the N·k argmin twice. The wide vector
    # columns are deliberately NOT checkpointed — re-reading the pruned
    # column scan is cheap; the argmin is not.
    assign = kmeans_assign(embeddings, centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    cell = embeddings.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        l2_norm(vec_col).alias("_nrm"),
    ).join(assign, id_col)
    a = cell.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_nrm").alias("_na"),
        "centroid_id",
    )
    b = cell.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
        "centroid_id",
    )
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom > 0, dot_product("_va", "_vb") / denom).otherwise(F.lit(0.0))
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "centroid_id",
            "id_a",
            "id_b",
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
