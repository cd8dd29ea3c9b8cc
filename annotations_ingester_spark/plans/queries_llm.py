"""LLM-training-pipeline queries, round 2: benchmark decontamination,
Gopher-style quality gating, sliding event windows, and the k-means (Lloyd)
assignment/update step — each with an exact DuckDB oracle (integer or
decimal arithmetic at every comparison point)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from annotations_ingester_spark.functions import text as tx
from annotations_ingester_spark.plans.catalog import ckpt, events_stream, events_table, register, table, utc_label

TOKS = tx.tokens_sql("text")
HASH = "('0x' || substr(md5({e}), 1, 15))::BIGINT"
SHINGLES = (
    "list_transform(range(1, greatest(len(t) - 2, 0) + 1),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


@register(
    "decontamination_ngram_overlap",
    f"""WITH d AS (SELECT doc_id, source, {TOKS} AS t FROM documents),
       sh AS (
         SELECT doc_id, source, list_distinct({SHINGLES}) AS s
         FROM d WHERE len(t) >= 3),
       ex AS (
         SELECT doc_id, source, {HASH.format(e="u.shingle")} AS h
         FROM (SELECT doc_id, source, unnest(s) AS shingle FROM sh) u),
       tr AS (SELECT doc_id AS train_doc_id, h FROM ex WHERE source <> 'src0'),
       ev AS (SELECT doc_id AS eval_doc_id, h FROM ex WHERE source = 'src0')
       SELECT train_doc_id, eval_doc_id, count(*) AS n_shared
       FROM tr JOIN ev USING (h)
       GROUP BY train_doc_id, eval_doc_id
       HAVING count(*) >= 2""",
    doc="Benchmark decontamination: training docs sharing ≥2 distinct "
    "3-gram fingerprints with the held-out split (source=src0). Shingles "
    "hash once to 60-bit ints; the small eval side broadcasts — a "
    "broadcast equi-join on 8-byte keys, the shape that scans 100 TB of "
    "training text against a benchmark suite.",
)
def q_decontamination(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import cross_split_contamination

    return cross_split_contamination(table(spark, sf, "documents"))


@register(
    "text_gopher_quality_flags",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       u AS (SELECT doc_id, unnest(t) AS tok FROM d WHERE len(t) > 0),
       tf AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
       st AS (
         SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                sum(c * length(tok))::BIGINT AS sum_len,
                max(c)::BIGINT AS top_c
         FROM tf GROUP BY doc_id)
       SELECT doc_id, n_tokens,
              round(sum_len / n_tokens, 6) AS mean_word_len,
              round(top_c / n_tokens, 6) AS top_token_frac,
              ((n_tokens BETWEEN 20 AND 100000)
               AND (sum_len / n_tokens BETWEEN 2 AND 12)
               AND (top_c / n_tokens <= 0.2)) AS passes
       FROM st""",
    doc="Gopher-style quality gate: token count bounds, mean word length "
    "bounds, max-token-repetition bound — all from one token explode + "
    "two integer aggregates (pure map-side-combinable counts; the flags "
    "are exact integer-ratio comparisons, no float drift).",
)
def q_gopher(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    ex = (
        docs.select("doc_id", tx.tokens("text").alias("_tk"))
        .filter(F.size("_tk") > 0)
        .select("doc_id", F.explode("_tk").alias("_tok"))
    )
    tf = ex.groupBy("doc_id", "_tok").agg(F.count("*").alias("c"))
    st = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.length("_tok")).alias("sum_len"),
        F.max("c").alias("top_c"),
    )
    ratio_len = F.col("sum_len") / F.col("n_tokens")
    ratio_top = F.col("top_c") / F.col("n_tokens")
    return st.select(
        "doc_id",
        "n_tokens",
        F.round(ratio_len, 6).alias("mean_word_len"),
        F.round(ratio_top, 6).alias("top_token_frac"),
        (
            F.col("n_tokens").between(20, 100000)
            & ratio_len.between(2, 12)
            & (ratio_top <= 0.2)
        ).alias("passes"),
    )


@register(
    "window_sliding_events",
    """WITH ev AS (
         SELECT event_type, value, floor(epoch(ts))::BIGINT AS t FROM events),
       w AS (
         SELECT event_type, value,
                unnest([(t // 1800) * 1800, ((t // 1800) - 1) * 1800]) AS ws
         FROM ev)
       SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type, count(*) AS n,
              CAST(sum(value::DECIMAL(14,4)) AS DOUBLE) AS total_value
       FROM w GROUP BY window_start, event_type""",
    doc="Sliding event-time windows (1 h length, 30 min slide — each event "
    "lands in exactly 2 windows): F.window with a slide, the batch twin of "
    "the streaming sliding agg; UTC-rendered labels keep the output "
    "engine-portable.",
)
def q_sliding(spark: SparkSession, sf: str):
    ev = events_table(spark, sf).withColumn("ts_t", F.timestamp_seconds(F.col("ts_s")))
    return (
        ev.groupBy(F.window("ts_t", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(14,4)")).cast("double").alias("total_value"),
        )
        .select(
            utc_label("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "kmeans_lloyd_step",
    """WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       c AS (SELECT vec_id AS centroid_id, e AS ce FROM b
            WHERE vec_id % 173 = 0 AND vec_id < 2000),
       vd AS (
         SELECT vec_id, s.i AS dim, s.v AS v
         FROM (SELECT vec_id,
                      unnest(list_transform(range(len(e)),
                                            i -> {'i': i, 'v': e[i + 1]})) AS s
               FROM b)),
       cd AS (
         SELECT centroid_id, s.i AS dim, s.v AS cv
         FROM (SELECT centroid_id,
                      unnest(list_transform(range(len(ce)),
                                            i -> {'i': i, 'v': ce[i + 1]})) AS s
               FROM c)),
       d2 AS (
         SELECT vd.vec_id, cd.centroid_id,
                sum(((vd.v - cd.cv) * (vd.v - cd.cv))::DECIMAL(28,12)) AS d2
         FROM vd JOIN cd USING (dim)
         GROUP BY vd.vec_id, cd.centroid_id),
       assign AS (
         SELECT vec_id, centroid_id
         FROM (SELECT vec_id, centroid_id,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, centroid_id) AS rn
               FROM d2)
         WHERE rn = 1)
       SELECT a.centroid_id, vd.dim::BIGINT AS dim,
              round(CAST(sum(vd.v::DECIMAL(28,12)) AS DOUBLE) / count(*), 6) AS mean,
              count(*) AS n_members
       FROM assign a JOIN vd ON a.vec_id = vd.vec_id
       GROUP BY a.centroid_id, vd.dim""",
    doc="One k-means Lloyd iteration (fixed seed centroids vec_id%173=0, "
    "capped below 2000 — k is a job parameter, never a corpus fraction, "
    "or the N*k assignment goes quadratic at scale): "
    "broadcast-centroid assignment by exact-decimal L2² (deterministic "
    "argmin, id tie-break) + per-dimension decimal-exact mean update. The "
    "full loop (kmeans_fit) collects this step's k·d means each round and "
    "checks convergence on the driver — MLlib's iterative posture: the "
    "centroid table, never the data, reaches the driver.",
)
def q_kmeans(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import kmeans_lloyd_step

    emb = table(spark, sf, "embeddings")
    cents = emb.filter(
        (F.col("vec_id") % 173 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return kmeans_lloyd_step(emb, cents)


@register(
    "kmeans_two_round_assign",
    """WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       c AS (SELECT vec_id AS centroid_id, e AS ce FROM b
            WHERE vec_id % 173 = 0 AND vec_id < 2000),
       vd AS (
         SELECT vec_id, s.i AS dim, s.v AS v
         FROM (SELECT vec_id,
                      unnest(list_transform(range(len(e)),
                                            i -> {'i': i, 'v': e[i + 1]})) AS s
               FROM b)),
       cd AS (
         SELECT centroid_id, s.i AS dim, s.v AS cv
         FROM (SELECT centroid_id,
                      unnest(list_transform(range(len(ce)),
                                            i -> {'i': i, 'v': ce[i + 1]})) AS s
               FROM c)),
       d2 AS (
         SELECT vd.vec_id, cd.centroid_id,
                sum(((vd.v - cd.cv) * (vd.v - cd.cv))::DECIMAL(28,12)) AS d2
         FROM vd JOIN cd USING (dim)
         GROUP BY vd.vec_id, cd.centroid_id),
       assign1 AS (
         SELECT vec_id, centroid_id
         FROM (SELECT vec_id, centroid_id,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, centroid_id) AS rn
               FROM d2)
         WHERE rn = 1),
       means AS (
         SELECT a.centroid_id, vd.dim,
                round(CAST(sum(vd.v::DECIMAL(28,12)) AS DOUBLE) / count(*), 6) AS cv
         FROM assign1 a JOIN vd ON a.vec_id = vd.vec_id
         GROUP BY a.centroid_id, vd.dim),
       d2b AS (
         SELECT vd.vec_id, m.centroid_id,
                sum(((vd.v - m.cv) * (vd.v - m.cv))::DECIMAL(28,12)) AS d2
         FROM vd JOIN means m USING (dim)
         GROUP BY vd.vec_id, m.centroid_id)
       SELECT vec_id, centroid_id
       FROM (SELECT vec_id, centroid_id,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, centroid_id) AS rn
             FROM d2b)
       WHERE rn = 1""",
    doc="TWO chained Lloyd rounds certified end-to-end (assignment after "
    "one decimal-exact mean update) — certifies the iterative k-means "
    "LOOP through the oracle gate, not just a single step. Same template "
    "as kmeans_fit's driver loop: centroids rebuilt from the step output, "
    "every arithmetic comparison decimal-exact with id tie-breaks so the "
    "trajectory is engine-portable.",
)
def q_kmeans_two_rounds(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import (
        kmeans_assign,
        kmeans_lloyd_step,
    )

    emb = table(spark, sf, "embeddings")
    cents = emb.filter(
        (F.col("vec_id") % 173 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    step = kmeans_lloyd_step(emb, cents)
    # Materialize the round-1 centroids (k x d, tiny) before the round-2
    # assignment consumes them twice (two-phase argmin probes the
    # centroid table in both phases) — without this the full Lloyd-step
    # lineage re-executes per consumption (consumed-twice audit class).
    new_cents = (
        step.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean"))).alias("_dm"))
        .select(
            "centroid_id",
            F.transform("_dm", lambda s: s["mean"]).alias("embedding"),
        )
        .transform(ckpt)
    )
    return kmeans_assign(emb, new_cents)


@register(
    "kmeans_fit_converged",
    "SELECT vec_id, (vec_id % 3)::BIGINT AS centroid_id FROM embeddings",
    doc="Full k-means fit run TO CONVERGENCE on a planted-clusters fixture: "
    "each embedding is shifted by 10·(vec_id mod 3) per coordinate, carving "
    "three clusters whose inter-centroid distance² (≥ 64·81) dwarfs any "
    "intra-cluster distance² (≤ 64·1), so Lloyd seeded with one member per "
    "cluster provably converges to the planted partition — the oracle is "
    "the ground truth itself, independent of iteration mechanics. "
    "Certifies kmeans_fit's driver loop end-to-end (one Spark action per "
    "round, whose k·d centroid means are all that reach the driver; empty "
    "clusters carry over instead of shrinking k).",
)
def q_kmeans_fit_converged(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.operators.similarity import kmeans_fit

    emb = table(spark, sf, "embeddings")
    offset = ((F.col("vec_id") % 3).cast("double") * F.lit(10.0))
    planted = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double") + offset).alias(
            "embedding"
        ),
    )
    w = Window.partitionBy((F.col("vec_id") % 3)).orderBy("vec_id")
    cent0 = (
        planted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select((F.col("vec_id") % 3).cast("long").alias("centroid_id"), "embedding")
    )
    assign, _iters = kmeans_fit(planted, cent0, max_iterations=8, tol=1e-4)
    return assign.select("vec_id", F.col("centroid_id").cast("long").alias("centroid_id"))


@register(
    "funnel_conversion_steps",
    """WITH ev AS (
         SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS ts_s FROM events),
       v AS (
         SELECT user_id, min(ts_s) AS t_view FROM ev
         WHERE event_type = 'view' GROUP BY user_id),
       c AS (
         SELECT e.user_id, min(e.ts_s) AS t_click
         FROM ev e JOIN v ON e.user_id = v.user_id
         WHERE e.event_type = 'click' AND e.ts_s >= v.t_view
         GROUP BY e.user_id),
       p AS (
         SELECT e.user_id, min(e.ts_s) AS t_purchase
         FROM ev e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts_s >= c.t_click
         GROUP BY e.user_id)
       SELECT 1::BIGINT AS step, 'view' AS name, count(*)::BIGINT AS users FROM v
       UNION ALL
       SELECT 2::BIGINT, 'click_after_view', count(*)::BIGINT FROM c
       UNION ALL
       SELECT 3::BIGINT, 'purchase_after_click', count(*)::BIGINT FROM p""",
    doc="Ordered-step funnel analysis: users who viewed, then clicked at or "
    "after their first view, then purchased at or after that first "
    "qualifying click. Three partial-aggregated groupBys and two "
    "equi-joins, ALL keyed on user_id — every exchange hashes the same "
    "key and each step shrinks to the surviving cohort, so the funnel "
    "costs one events-table shuffle plus per-step shuffles of "
    "already-reduced per-user rows, however many steps deep.",
)
def q_funnel_conversion(spark: SparkSession, sf: str):
    ev = events_table(spark, sf).select("user_id", "event_type", "ts_s")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_s") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_s") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("t_purchase"))
    )

    def step(df, n, name):
        return df.agg(
            F.lit(n).cast("long").alias("step"),
            F.lit(name).alias("name"),
            F.count("*").cast("long").alias("users"),
        )

    return (
        step(v, 1, "view")
        .unionAll(step(c, 2, "click_after_view"))
        .unionAll(step(p, 3, "purchase_after_click"))
    )


@register(
    "streaming_funnel_conversion",
    """WITH ev AS (
         SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS ts_s FROM events),
       m AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN ts_s END) AS t_view,
                min(CASE WHEN event_type = 'click' THEN ts_s END) AS t_click,
                min(CASE WHEN event_type = 'purchase' THEN ts_s END) AS t_purchase
         FROM ev GROUP BY user_id)
       SELECT 1::BIGINT AS step, 'view' AS name,
              count(*) FILTER (WHERE t_view IS NOT NULL)::BIGINT AS users FROM m
       UNION ALL
       SELECT 2::BIGINT, 'click_after_first_view',
              count(*) FILTER (WHERE t_click >= t_view)::BIGINT FROM m
       UNION ALL
       SELECT 3::BIGINT, 'purchase_after_first_click',
              count(*) FILTER (WHERE t_click >= t_view AND t_purchase >= t_click)::BIGINT
       FROM m""",
    doc="Streaming twin of funnel_conversion_steps, run for real: per-user "
    "FIRST-event times (min per event type) maintained as a streaming "
    "aggregation — min is order-insensitive and monotone, so the state "
    "(three numbers per user, O(users) total) is exact under ANY arrival "
    "order and micro-batch split, with no replay. That is deliberately "
    "the first-EVENT funnel, the streaming-incremental semantics; the "
    "batch query's first-QUALIFYING-click funnel depends on cross-event "
    "ordering and needs replay to stream exactly. The 3-row report is a "
    "batch finishing pass over the materialized state table (production: "
    "the dashboard query over the continuously-maintained state).",
)
def q_streaming_funnel(spark: SparkSession, sf: str):
    ev = events_stream(spark, sf).select("user_id", "event_type", "ts_s")

    def tmin(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts_s"))).alias(f"t_{t}")

    mins = ev.groupBy("user_id").agg(tmin("view"), tmin("click"), tmin("purchase"))
    q = (
        mins.writeStream.outputMode("complete")
        .format("memory")
        .queryName("streaming_funnel_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    m = spark.table("streaming_funnel_state")

    def step(n: int, name: str, cond):
        return m.filter(cond).agg(
            F.lit(n).cast("long").alias("step"),
            F.lit(name).alias("name"),
            F.count("*").cast("long").alias("users"),
        )

    return (
        step(1, "view", F.col("t_view").isNotNull())
        .unionAll(step(2, "click_after_first_view", F.col("t_click") >= F.col("t_view")))
        .unionAll(
            step(
                3,
                "purchase_after_first_click",
                (F.col("t_click") >= F.col("t_view"))
                & (F.col("t_purchase") >= F.col("t_click")),
            )
        )
    )


@register(
    "embedding_pq_codes",
    """WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       a AS (SELECT vec_id AS aid, e AS ae FROM b
             WHERE vec_id % 31 = 0 AND vec_id < 496),
       vd AS (
         SELECT vec_id, s.i AS dim, s.v AS v
         FROM (SELECT vec_id,
                      unnest(list_transform(range(len(e)),
                                            i -> {'i': i, 'v': e[i + 1]})) AS s
               FROM b)),
       ad AS (
         SELECT aid, s.i AS dim, s.v AS av
         FROM (SELECT aid,
                      unnest(list_transform(range(len(ae)),
                                            i -> {'i': i, 'v': ae[i + 1]})) AS s
               FROM a)),
       d2 AS (
         SELECT vd.vec_id, (vd.dim // 8)::BIGINT AS subspace, ad.aid,
                sum(((vd.v - ad.av) * (vd.v - ad.av))::DECIMAL(28,12)) AS d2
         FROM vd JOIN ad USING (dim)
         GROUP BY 1, 2, 3),
       assign AS (
         SELECT vec_id, subspace, aid AS code, d2,
                row_number() OVER (PARTITION BY vec_id, subspace
                                   ORDER BY d2, aid) AS rn
         FROM d2)
       SELECT vec_id, subspace, code,
              round(CAST(d2 AS DOUBLE) / 8, 6) AS recon_mse
       FROM assign WHERE rn = 1""",
    doc="Product-quantization encoding (Jegou et al., TPAMI'11 — the "
    "compression layer between int8 scalar quantization and IVF in every "
    "billion-vector ANN stack): the 64-dim space splits into 8 "
    "subspaces of 8 dims; a fixed 16-entry codebook per subspace (anchor "
    "vectors vec_id%31=0 <496 — codebook size is a JOB PARAMETER, "
    "never a corpus fraction, same lesson as the k-means seeds) encodes "
    "every vector as 8 nearest-anchor codes — 8 bytes instead of 256, "
    "32x compression — with the per-subspace reconstruction MSE emitted "
    "per code (exact decimal L2^2, deterministic argmin with anchor-id "
    "tie-break). Scale shape: anchors broadcast; one posexplode into "
    "N*8 subvector rows; N*128 candidate distances map-side; "
    "min_by argmin under a partial-combinable (vec,subspace) aggregate. "
    "A full PQ fit would learn anchors via kmeans_fit per subspace (the "
    "certified operator); this query certifies the ENCODING math.",
)
def q_embedding_pq_codes(spark: SparkSession, sf: str):
    d2_sql = (
        "aggregate("
        " zip_with(_sv, _av, (a, b) ->"
        "   CAST((CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        "        * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) AS DECIMAL(28,12))),"
        " CAST(0 AS DECIMAL(28,12)),"
        " (acc, x) -> CAST(acc + x AS DECIMAL(28,12)))"
    )
    emb = table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    slices = F.array(*[F.slice("e", s * 8 + 1, 8) for s in range(8)])
    sub = emb.select(
        "vec_id", F.posexplode(slices).alias("subspace", "_sv")
    ).withColumn("subspace", F.col("subspace").cast("long"))
    anchors = (
        emb.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 496))
        .select(F.col("vec_id").alias("code"), F.posexplode(slices).alias("subspace", "_av"))
        .withColumn("subspace", F.col("subspace").cast("long"))
    )
    cand = sub.join(F.broadcast(anchors), "subspace")
    d2 = cand.select(
        "vec_id", "subspace", "code", F.expr(d2_sql).alias("d2")
    )
    return d2.groupBy("vec_id", "subspace").agg(
        F.min_by(
            F.struct(F.col("code"), F.col("d2")),
            F.struct(F.col("d2"), F.col("code")),
        ).alias("_best")
    ).select(
        "vec_id",
        "subspace",
        F.col("_best.code").alias("code"),
        F.round(F.col("_best.d2").cast("double") / 8, 6).alias("recon_mse"),
    )


@register(
    "ann_hard_negatives",
    """WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
       q0 AS (SELECT vec_id AS q_id, e AS qe, label AS q_label FROM b
              WHERE vec_id % 101 = 0 AND vec_id < 2000),
       scored AS (
         SELECT q.q_id, c.vec_id, c.label AS neg_label,
                round(CASE WHEN sqrt(list_dot_product(q.qe, q.qe))
                           * sqrt(list_dot_product(c.e, c.e)) > 0
                      THEN list_dot_product(q.qe, c.e)
                           / (sqrt(list_dot_product(q.qe, q.qe))
                              * sqrt(list_dot_product(c.e, c.e)))
                      ELSE 0.0 END, 6) AS cos
         FROM b c, q0 q
         WHERE c.vec_id <> q.q_id AND c.label <> q.q_label)
       SELECT q_id, vec_id, neg_label::BIGINT AS neg_label, cos,
              rank::BIGINT AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                          ORDER BY cos DESC, vec_id) AS rank
             FROM scored)
       WHERE rank <= 5""",
    doc="Hard-negative mining for contrastive training (the DPR/Contriever "
    "recipe): for each anchor in the fixed query batch, the 5 most-similar "
    "vectors carrying a DIFFERENT label — maximally confusable negatives, "
    "the examples that actually move a contrastive loss. Exact brute-force "
    "tier over the labeled corpus (the certified exactness baseline; the "
    "bucketed/IVF variants are the scale path, label filter unchanged). "
    "Scale shape: broadcast anchor batch, the label filter prunes "
    "map-side before scoring, bounded top-5 windows per anchor.",
)
def q_ann_hard_negatives(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm,
    )

    emb = table(spark, sf, "embeddings")
    q = emb.filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("_q_vec"),
        F.col("label").alias("_q_lbl"),
        l2_norm("embedding").alias("_qn"),
    )
    c = emb.select(
        "vec_id", "embedding", F.col("label").cast("long").alias("neg_label"),
        l2_norm("embedding").alias("_cn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        (F.col("vec_id") != F.col("q_id")) & (F.col("neg_label") != F.col("_q_lbl"))
    )
    scored = pairs.select(
        "q_id",
        "vec_id",
        "neg_label",
        F.round(cosine_from_norms("_q_vec", "embedding", "_qn", "_cn"), 6).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# ---- BPE encode (fixed merge table) ----------------------------------------

from annotations_ingester_spark.functions import bpe as _bpe  # noqa: E402

_BPE_N = _bpe.bpe_token_count_sql("text")
_BPE_T = _bpe.bpe_tokens_sql("text")


@register(
    "bpe_encode_tokens",
    f"""SELECT doc_id,
              (length(replace({_bpe.normalize_sql('text')}, ' ', '')))::BIGINT
                AS n_chars,
              {_BPE_N} AS n_bpe_tokens,
              round((length(replace({_bpe.normalize_sql('text')}, ' ', '')))
                    / greatest({_BPE_N}, 1), 4) AS compression
       FROM documents WHERE text IS NOT NULL""",
    doc="Distributed BPE ENCODE with a pinned 16-entry merge table "
    "(functions/bpe.py) — the tokenizer-application last mile after "
    "bpe_pair_merges learns the statistics: characters fold through the "
    "ordered merges with exact greedy left-to-right BPE semantics, "
    "expressed as chained codegen'd literal replaces over a "
    "sentinel-wrapped token string (no Python UDF, no HOF lambda, no "
    "shuffle until aggregation; the doubled sentinel makes cross-token "
    "matches impossible and unwrapped spaces block merges across word "
    "boundaries). Emits per-doc pre-merge char count, BPE token count, "
    "and compression ratio. The oracle replays the identical merge "
    "table through DuckDB's replace — same fold, same order, exact "
    "match. Scale: 16 string passes per row, all map-side; a 50k-merge "
    "production vocab swaps the pinned fold for a broadcast merge table "
    "inside an Arrow UDF at the same seam.",
)
def q_bpe_encode_tokens(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents").filter(F.col("text").isNotNull())
    n_chars = F.length(F.replace(_bpe.normalize("text"), F.lit(" "))).cast("long")
    n_tok = _bpe.bpe_token_count("text")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tok.alias("n_bpe_tokens"),
        F.round(n_chars / F.greatest(n_tok, F.lit(1)), 4).alias("compression"),
    )


@register(
    "bpe_token_histogram",
    f"""WITH t AS (
         SELECT unnest({_BPE_T}) AS token FROM documents
         WHERE text IS NOT NULL),
       g AS (SELECT token, count(*)::BIGINT AS n FROM t GROUP BY token),
       top AS (SELECT token, n FROM g ORDER BY n DESC, token LIMIT 30)
       SELECT token, n,
              row_number() OVER (ORDER BY n DESC, token)::BIGINT AS rank
       FROM top""",
    doc="Corpus BPE token histogram: explode the encoded token stream "
    "(same pinned merge table as bpe_encode_tokens), count corpus-wide, "
    "top-30 by frequency — the vocabulary-health report a tokenizer "
    "rollout checks (merge coverage, residual single characters). One "
    "explode into one map-side-combinable aggregate; top-k is "
    "TakeOrderedAndProject with rank derived post-limit.",
)
def q_bpe_token_histogram(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    t = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(_bpe.bpe_tokens("text")).alias("token"))
    )
    g = t.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    top = g.orderBy(F.col("n").desc(), F.col("token")).limit(30)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@register(
    "bpe_sequence_packing",
    f"""WITH d AS (
         SELECT doc_id, source, {_BPE_N} AS n_tokens
         FROM documents WHERE text IS NOT NULL),
       packed AS (
         SELECT doc_id, source, n_tokens,
                floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) / 512)::BIGINT AS bin
         FROM d)
       SELECT source, bin, count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS tokens_in_bin
       FROM packed GROUP BY source, bin""",
    doc="Sequence packing driven by REAL tokenizer counts: the existing "
    "512-token-bin packing (exclusive running sum per source, one window "
    "shuffle) fed by the BPE encoder's token counts instead of the "
    "whitespace approximation — the composition a training pipeline "
    "actually runs (encode -> count -> pack). Oracle replays the merge "
    "table and the same window arithmetic.",
)
def q_bpe_sequence_packing(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.chunking import sequence_packing

    d = table(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "source", _bpe.bpe_token_count("text").alias("n_tokens")
    )
    packed = sequence_packing(d, "n_tokens", "source", "doc_id", budget=512)
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_in_bin"),
    )


# ---- fasttext-style quality classifier inference ---------------------------

def classifier_scores(docs):
    """Shared scorer for the batch query and its streaming gate twin:
    (doc_id, text) -> (doc_id, n_tokens, logit_milli, keep)."""
    from annotations_ingester_spark.functions.hashing import md5_hash64

    spark = docs.sparkSession
    d = docs.select("doc_id", F.explode(tx.tokens("text")).alias("w"))
    bucketed = d.select(
        "doc_id",
        F.abs(
            md5_hash64(F.concat(F.lit("qw:"), F.col("w"))) % 512
        ).cast("long").alias("b"),
    )
    weights = spark.range(0, 512).select(
        F.col("id").cast("long").alias("b"),
        (
            md5_hash64(F.concat(F.lit("qweight:"), F.col("id").cast("string")))
            % 2001
            - 1000
        ).cast("long").alias("w_milli"),
    )
    s = (
        bucketed.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_milli").cast("long").alias("logit_milli"),
        )
    )
    return s.select(
        "doc_id", "n_tokens", "logit_milli", (F.col("logit_milli") > 0).alias("keep")
    )


_QC_BUCKET = "(" + HASH.format(e="'qw:' || u.w") + " % 512)"
_QC_W = "((" + HASH.format(e="'qweight:' || b::VARCHAR") + " % 2001) - 1000)"


@register(
    "quality_classifier_scores",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       tok AS (SELECT doc_id, unnest(t) AS w FROM d),
       b AS (SELECT doc_id, abs({_QC_BUCKET})::BIGINT AS b
             FROM tok u),
       w AS (SELECT DISTINCT b, {_QC_W}::BIGINT AS w_milli FROM b),
       s AS (
         SELECT b.doc_id, count(*)::BIGINT AS n_tokens,
                sum(w.w_milli)::BIGINT AS logit_milli
         FROM b JOIN w ON b.b = w.b GROUP BY b.doc_id)
       SELECT doc_id, n_tokens, logit_milli, logit_milli > 0 AS keep
       FROM s""",
    doc="Hashed linear quality-classifier INFERENCE at corpus scale — the "
    "fastText-style keep/drop scorer every CCNet/DCLM-style curation "
    "pipeline runs over 100 TB: tokens hash into 512 feature buckets "
    "(hashing trick — vocabulary-free, fixed-width model), each bucket "
    "carries a pinned integer milli-weight (stand-in for the trained "
    "coefficients; same hash family the whole catalog uses), and a "
    "document's logit is the exact BIGINT sum of its token weights — "
    "integer arithmetic end to end, so scores are order-free and "
    "engine-exact (a float dot product would drift with partial-agg "
    "order). keep = logit > 0 is the decision boundary; the monotone "
    "sigmoid is deliberately not applied (same decision, no exp() "
    "portability hazard). Scale shape: explode -> map-side bucket hash "
    "-> broadcast 512-row weight table -> one doc-keyed "
    "map-side-combinable sum; the model rides along as a broadcast, "
    "never a shuffle.",
)
def q_quality_classifier_scores(spark: SparkSession, sf: str):
    return classifier_scores(table(spark, sf, "documents"))


@register(
    "tokenizer_fertility_by_lang",
    f"""WITH d AS (
         SELECT lang,
                len({TOKS})::BIGINT AS n_words,
                {_BPE_N} AS n_bpe,
                length(replace({_bpe.normalize_sql('text')}, ' ', ''))::BIGINT
                  AS n_chars
         FROM documents WHERE text IS NOT NULL)
       SELECT lang, count(*)::BIGINT AS n_docs,
              sum(n_words)::BIGINT AS total_words,
              sum(n_bpe)::BIGINT AS total_bpe_tokens,
              round(sum(n_bpe) / greatest(sum(n_words), 1), 4) AS fertility,
              round(sum(n_chars) / greatest(sum(n_bpe), 1), 4)
                AS chars_per_token
       FROM d GROUP BY lang""",
    doc="Tokenizer fertility audit by language: BPE tokens per word and "
    "characters per token for each language — THE number a multilingual "
    "tokenizer rollout is judged on (a high-fertility language pays more "
    "sequence budget per sentence; the Gopher/XLM-R papers track exactly "
    "this). Composes the pinned-merge-table encoder with the whitespace "
    "word counts; all sums are exact BIGINTs with one rounding point per "
    "ratio. Scale shape: scan-fused per-doc integer counts into one "
    "map-side-combinable per-language aggregate — flat cost at any "
    "corpus size.",
)
def q_tokenizer_fertility(spark: SparkSession, sf: str):
    d = table(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "lang",
        F.size(tx.tokens("text")).cast("long").alias("n_words"),
        _bpe.bpe_token_count("text").alias("n_bpe"),
        F.length(F.replace(_bpe.normalize("text"), F.lit(" "))).cast("long").alias(
            "n_chars"
        ),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.round(
            F.sum("n_bpe") / F.greatest(F.sum("n_words"), F.lit(1)), 4
        ).alias("fertility"),
        F.round(
            F.sum("n_chars") / F.greatest(F.sum("n_bpe"), F.lit(1)), 4
        ).alias("chars_per_token"),
    )


@register(
    "packing_efficiency_report",
    f"""WITH d AS (
         SELECT doc_id, source, {_BPE_N} AS n_tokens
         FROM documents WHERE text IS NOT NULL),
       packed AS (
         SELECT doc_id, source, n_tokens,
                floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) / 512)::BIGINT AS bin
         FROM d),
       bins AS (
         SELECT source, bin, sum(n_tokens)::BIGINT AS tokens_in_bin
         FROM packed GROUP BY source, bin)
       SELECT source, count(*)::BIGINT AS n_bins,
              sum(tokens_in_bin)::BIGINT AS total_tokens,
              sum(CASE WHEN tokens_in_bin > 512 THEN 1 ELSE 0 END)::BIGINT
                AS overflow_bins,
              round(sum(tokens_in_bin) * 10000.0 / (count(*) * 512), 2)
                AS fill_bp
       FROM bins GROUP BY source""",
    doc="Packing-efficiency report over the BPE-count sequence packing: "
    "per source, bin count, token total, bins whose resident docs exceed "
    "the 512-token budget (they span a boundary — the padding-vs-"
    "truncation decision every packer makes), and the average fill rate "
    "in basis points — the utilization number that decides whether a "
    "packing strategy wastes accelerator hours on padding. Integer "
    "arithmetic until the single rounded ratio. Scale shape: the "
    "packing's one per-source window shuffle, then two "
    "map-side-combinable aggregates.",
)
def q_packing_efficiency(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.chunking import sequence_packing

    d = table(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "source", _bpe.bpe_token_count("text").alias("n_tokens")
    )
    packed = sequence_packing(d, "n_tokens", "source", "doc_id", budget=512)
    bins = packed.groupBy("source", "bin").agg(
        F.sum("n_tokens").cast("long").alias("tokens_in_bin")
    )
    return bins.groupBy("source").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("tokens_in_bin").cast("long").alias("total_tokens"),
        F.sum((F.col("tokens_in_bin") > 512).cast("long")).cast("long").alias(
            "overflow_bins"
        ),
        F.round(
            F.sum("tokens_in_bin") * 10000.0 / (F.count("*") * 512), 2
        ).alias("fill_bp"),
    )


@register(
    "streaming_quality_gate",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       tok AS (SELECT doc_id, unnest(t) AS w FROM d),
       b AS (SELECT doc_id, abs({_QC_BUCKET})::BIGINT AS b
             FROM tok u),
       w AS (SELECT DISTINCT b, {_QC_W}::BIGINT AS w_milli FROM b),
       s AS (
         SELECT b.doc_id, count(*)::BIGINT AS n_tokens,
                sum(w.w_milli)::BIGINT AS logit_milli
         FROM b JOIN w ON b.b = w.b GROUP BY b.doc_id)
       SELECT doc_id, n_tokens, logit_milli FROM s
       WHERE logit_milli > 0""",
    doc="Streaming twin of the quality-classifier gate, run for real: "
    "documents stream in (availableNow, several micro-batches) and "
    "foreachBatch scores each batch with the SAME hashed linear model "
    "(classifier_scores — the hashing-trick feature space needs no "
    "corpus statistics, which is exactly what makes the classifier "
    "streamable where the percentile gate is not), landing each batch's "
    "keep rows at a BATCH-ID-KEYED path (overwrite) — the idempotent "
    "foreachBatch discipline: an at-least-once retry rewrites its own "
    "partial instead of duplicating appended rows. The final read folds "
    "the partials; the oracle is the batch classifier filtered to "
    "keeps — streamed and batch gates must agree row-for-row because "
    "the score depends only on the document itself.",
)
def q_streaming_quality_gate(spark: SparkSession, sf: str):
    import os
    import shutil
    import tempfile

    docs = table(spark, sf, "documents").select("doc_id", "text")
    run_dir = tempfile.mkdtemp(prefix="spark_graft_qgate_")
    feed_dir = os.path.join(run_dir, "feed")
    store = os.path.join(run_dir, "store")
    try:
        docs.repartition(8).write.mode("overwrite").parquet(feed_dir)

        def gate(batch_df, batch_id):
            kept = classifier_scores(batch_df).filter(F.col("keep")).select(
                "doc_id", "n_tokens", "logit_milli"
            )
            kept.write.mode("overwrite").parquet(f"{store}/batch={batch_id}")

        feed_schema = docs.schema  # just wrote it — no re-listing job
        stream = (
            spark.readStream.schema(feed_schema)
            .option("maxFilesPerTrigger", "3")
            .parquet(feed_dir)
        )
        q = stream.writeStream.foreachBatch(gate).trigger(availableNow=True).start()
        q.awaitTermination()
        return (
            spark.read.parquet(store)
            .select("doc_id", "n_tokens", "logit_milli")
            .localCheckpoint(eager=True)
        )
    finally:
        # a failed feed write / stream / read must not leak the corpus copy
        shutil.rmtree(run_dir, ignore_errors=True)


@register(
    "context_packing_manifest",
    f"""WITH d AS (
         SELECT doc_id, source, {_BPE_N} AS n_tokens
         FROM documents WHERE text IS NOT NULL),
       packed AS (
         SELECT doc_id, source, n_tokens,
                sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS cum
         FROM d),
       binned AS (
         SELECT doc_id, source, n_tokens, cum,
                (cum // 4096)::BIGINT AS bin,
                (cum % 4096)::BIGINT AS tok_offset
         FROM packed)
       SELECT source, bin,
              count(*)::BIGINT AS n_docs,
              sum(n_tokens)::BIGINT AS total_tokens,
              string_agg(doc_id::VARCHAR || ':' || tok_offset::VARCHAR,
                         ',' ORDER BY doc_id) AS members
       FROM binned GROUP BY source, bin""",
    doc="Long-context packing MANIFEST — the artifact a dataloader "
    "actually consumes, one step past bin statistics: docs pack into "
    "4096-token contexts per source in deterministic doc_id order, and "
    "each context row carries its canonical member list "
    "('doc_id:token_offset', sorted) so the trainer can slice documents "
    "and place attention boundaries without re-deriving the packing. "
    "Offsets come from the same exclusive running sum as the bin id "
    "(one window shuffle); token counts are the real BPE encoder's. "
    "The canonical string postings make the nested artifact "
    "hash-comparable across engines (the inverted_index_postings "
    "discipline). At 100 TB: the window is per-source (the "
    "corpus_shuffle_order prefix-sum pattern drops in for a single "
    "giant source), the manifest is bins-sized, and a boundary doc "
    "spanning two contexts is visible as offset+n_tokens > 4096 — the "
    "truncate/pad decision is the consumer's, recorded not hidden.",
)
def q_context_packing_manifest(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = table(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "source", _bpe.bpe_token_count("text").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = d.withColumn("cum", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    binned = packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum") / 4096).cast("long").alias("bin"),
        (F.col("cum") % 4096).cast("long").alias("offset"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id"),
                            F.concat_ws(
                                ":",
                                F.col("doc_id").cast("string"),
                                F.col("offset").cast("string"),
                            ).alias("s"),
                        )
                    )
                ).getField("s"),
                ",",
            ).alias("members"),
        )
    )


@register(
    "funnel_time_to_convert",
    """WITH ev AS (
         SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS ts_s FROM events),
       v AS (
         SELECT user_id, min(ts_s) AS t_view FROM ev
         WHERE event_type = 'view' GROUP BY user_id),
       c AS (
         SELECT e.user_id, v.t_view, min(e.ts_s) AS t_click
         FROM ev e JOIN v ON e.user_id = v.user_id
         WHERE e.event_type = 'click' AND e.ts_s >= v.t_view
         GROUP BY e.user_id, v.t_view),
       p AS (
         SELECT e.user_id, c.t_view, c.t_click, min(e.ts_s) AS t_purchase
         FROM ev e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts_s >= c.t_click
         GROUP BY e.user_id, c.t_view, c.t_click),
       lat AS (
         SELECT 'view_to_click' AS transition, t_click - t_view AS lat_s,
                user_id
         FROM c
         UNION ALL
         SELECT 'click_to_purchase', t_purchase - t_click, user_id FROM p),
       sized AS (
         SELECT transition, count(*)::BIGINT AS n FROM lat GROUP BY transition),
       r AS (
         SELECT transition, lat_s,
                row_number() OVER (PARTITION BY transition
                                   ORDER BY lat_s, user_id) AS rn
         FROM lat)
       SELECT s.transition, s.n,
              min(CASE WHEN r.rn >= ceil(0.5 * s.n) THEN r.lat_s END)::BIGINT
                AS p50_latency_s,
              min(CASE WHEN r.rn >= ceil(0.9 * s.n) THEN r.lat_s END)::BIGINT
                AS p90_latency_s,
              sum(r.lat_s)::BIGINT AS total_latency_s
       FROM sized s JOIN r ON r.transition = s.transition
       GROUP BY s.transition, s.n""",
    doc="Funnel TIMING — the companion the step-count funnel "
    "(funnel_conversion_steps) is read with: per transition "
    "(view->first qualifying click, click->first qualifying purchase), "
    "the exact discrete p50/p90 latency in seconds plus the latency "
    "total — where users stall, not just where they drop. Percentiles "
    "use the engine-portable rank-selection convention "
    "(ceil(q*n) under a (latency, user_id) total order — the "
    "quantile_disc_certified discipline, no interpolation ambiguity). "
    "Scale shape: the funnel's user_id-keyed joins/aggregates, then "
    "one transition-partitioned rank window over the per-user latency "
    "rows (2 bounded partitions).",
)
def q_funnel_time_to_convert(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ev = events_table(spark, sf).select("user_id", "event_type", "ts_s")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("t_view"))
    )
    # per-user step frames are tiny (cohort-sized) and each feeds TWO
    # consumers (the next step's join and the latency union) — checkpoint
    # them so the events table is scanned once per step, not once per
    # downstream lineage copy (scan-multiplicity discipline)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_s") >= F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts_s").alias("t_click"))
        .transform(ckpt)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_s") >= F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts_s").alias("t_purchase"))
        .transform(ckpt)
    )
    lat = c.select(
        F.lit("view_to_click").alias("transition"),
        (F.col("t_click") - F.col("t_view")).alias("lat_s"),
        "user_id",
    ).unionAll(
        p.select(
            F.lit("click_to_purchase").alias("transition"),
            (F.col("t_purchase") - F.col("t_click")).alias("lat_s"),
            "user_id",
        )
    )
    sized = lat.groupBy("transition").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("transition").orderBy("lat_s", "user_id")
    r = lat.withColumn("rn", F.row_number().over(w))
    return (
        r.join(F.broadcast(sized), "transition")
        .groupBy("transition", "n")
        .agg(
            F.min(
                F.when(F.col("rn") >= F.ceil(0.5 * F.col("n")), F.col("lat_s"))
            ).cast("long").alias("p50_latency_s"),
            F.min(
                F.when(F.col("rn") >= F.ceil(0.9 * F.col("n")), F.col("lat_s"))
            ).cast("long").alias("p90_latency_s"),
            F.sum("lat_s").cast("long").alias("total_latency_s"),
        )
    )


@register(
    "ann_ivf_adc_topk",
    """WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e,
                (CASE WHEN (embedding::DOUBLE[])[1] >= 0 THEN 1 ELSE 0 END) * 128
              + (CASE WHEN (embedding::DOUBLE[])[2] >= 0 THEN 1 ELSE 0 END) * 64
              + (CASE WHEN (embedding::DOUBLE[])[3] >= 0 THEN 1 ELSE 0 END) * 32
              + (CASE WHEN (embedding::DOUBLE[])[4] >= 0 THEN 1 ELSE 0 END) * 16
              + (CASE WHEN (embedding::DOUBLE[])[5] >= 0 THEN 1 ELSE 0 END) * 8
              + (CASE WHEN (embedding::DOUBLE[])[6] >= 0 THEN 1 ELSE 0 END) * 4
              + (CASE WHEN (embedding::DOUBLE[])[7] >= 0 THEN 1 ELSE 0 END) * 2
              + (CASE WHEN (embedding::DOUBLE[])[8] >= 0 THEN 1 ELSE 0 END)
                AS bucket
         FROM embeddings),
       a AS (SELECT vec_id AS aid, e AS ae FROM b
             WHERE vec_id % 31 = 0 AND vec_id < 496),
       vd AS (
         SELECT vec_id, s.i AS dim, s.v AS v
         FROM (SELECT vec_id,
                      unnest(list_transform(range(len(e)),
                                            i -> {'i': i, 'v': e[i + 1]})) AS s
               FROM b)),
       ad AS (
         SELECT aid, s.i AS dim, s.v AS av
         FROM (SELECT aid,
                      unnest(list_transform(range(len(ae)),
                                            i -> {'i': i, 'v': ae[i + 1]})) AS s
               FROM a)),
       cd2 AS (
         SELECT vd.vec_id, (vd.dim // 8)::BIGINT AS subspace, ad.aid,
                sum(((vd.v - ad.av) * (vd.v - ad.av))::DECIMAL(28,12)) AS d2
         FROM vd JOIN ad USING (dim)
         GROUP BY 1, 2, 3),
       codes AS (
         SELECT vec_id, subspace, aid AS code FROM (
           SELECT vec_id, subspace, aid, 
                  row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2, aid) AS rn
           FROM cd2) WHERE rn = 1),
       q0 AS (SELECT vec_id AS q_id, bucket FROM b
              WHERE vec_id % 101 = 0 AND vec_id < 2000),
       dt AS (
         SELECT c.vec_id AS q_id, c.subspace, c.aid AS code, c.d2
         FROM cd2 c JOIN q0 ON q0.q_id = c.vec_id),
       cand AS (
         SELECT q0.q_id, b.vec_id
         FROM b JOIN q0 ON b.bucket = q0.bucket
         WHERE b.vec_id <> q0.q_id),
       adc AS (
         SELECT cand.q_id, cand.vec_id,
                sum(dt.d2)::DECIMAL(28,12) AS adc_d2
         FROM cand
         JOIN codes ON codes.vec_id = cand.vec_id
         JOIN dt ON dt.q_id = cand.q_id
               AND dt.subspace = codes.subspace
               AND dt.code = codes.code
         GROUP BY cand.q_id, cand.vec_id)
       SELECT q_id, vec_id,
              row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc_d2, vec_id)::BIGINT AS rank,
              round(CAST(adc_d2 AS DOUBLE), 6) AS adc_d2
       FROM adc QUALIFY rank <= 5""",
    doc="IVF-ADC retrieval — the modern billion-vector serving shape "
    "(Jegou et al.; FAISS IVFPQ), composed from the certified parts: "
    "the sign-bucket coarse index restricts each query to its own "
    "cell's posting list (the IVF step), and candidates are scored by "
    "ASYMMETRIC DISTANCE COMPUTATION — the query precomputes a 8x16 "
    "subspace-distance lookup table against the pinned PQ codebooks, "
    "and each candidate's score is the sum of 8 table lookups keyed by "
    "its stored PQ codes (embedding_pq_codes' exact-decimal "
    "assignment), never a full-vector distance. Top-5 per query by "
    "(ADC, id). All distances are exact decimal sums, so the plan is "
    "engine-exact end to end. Scale shape: codes ride as an 8-byte "
    "column, the Q x 128 distance tables broadcast, scoring is one "
    "bucket equi-join + map-side lookups + a (q, vec) partial-"
    "combinable sum — at 100 TB this is the query path whose storage "
    "side the PQ/IVF certs already priced.",
)
def q_ann_ivf_adc(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.vectors import sign_bucket

    d2_sql = (
        "aggregate("
        " zip_with(_sv, _av, (a, b) ->"
        "   CAST((CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        "        * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) AS DECIMAL(28,12))),"
        " CAST(0 AS DECIMAL(28,12)),"
        " (acc, x) -> CAST(acc + x AS DECIMAL(28,12)))"
    )
    emb = table(spark, sf, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        sign_bucket("embedding", 8).alias("bucket"),
    )
    slices = F.array(*[F.slice("e", s * 8 + 1, 8) for s in range(8)])
    sub = emb.select(
        "vec_id", F.posexplode(slices).alias("subspace", "_sv")
    ).withColumn("subspace", F.col("subspace").cast("long"))
    anchors = (
        emb.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 496))
        .select(
            F.col("vec_id").alias("code"),
            F.posexplode(slices).alias("subspace", "_av"),
        )
        .withColumn("subspace", F.col("subspace").cast("long"))
        .transform(ckpt)  # 16 anchors x 8 subspaces, reused twice
    )
    cd2 = (
        sub.join(F.broadcast(anchors), "subspace")
        .select("vec_id", "subspace", "code", F.expr(d2_sql).alias("d2"))
    )
    w_code = Window.partitionBy("vec_id", "subspace").orderBy("d2", "code")
    # the (vec, subspace, anchor) distance frame feeds BOTH the code
    # assignment (all vectors) and the query distance tables — compute it
    # once; the assignment keeps argmin, the tables keep the query rows
    cd2 = cd2.transform(ckpt)
    codes = (
        cd2.withColumn("_rn", F.row_number().over(w_code))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "subspace", "code")
    )
    q0 = emb.filter(
        (F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000)
    ).select(F.col("vec_id").alias("q_id"), "bucket")
    dt = cd2.join(
        q0.select(F.col("q_id").alias("vec_id")), "vec_id"
    ).select(F.col("vec_id").alias("q_id"), "subspace", "code", "d2")
    cand = (
        emb.select("vec_id", "bucket")
        .join(q0, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dt), ["q_id", "subspace", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2").cast("decimal(28,12)").alias("adc_d2"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "q_id",
            "vec_id",
            "rank",
            F.round(F.col("adc_d2").cast("double"), 6).alias("adc_d2"),
        )
    )


@register(
    "curation_gate_attrition",
    f"""WITH s1 AS (
         SELECT doc_id, md5(text) AS fp,
                {{QS}} AS q
         FROM documents
         WHERE text IS NOT NULL AND length(text) >= 5),
       f1 AS (SELECT * FROM s1 WHERE q >= 0.2),
       f2 AS (
         SELECT doc_id FROM (
           SELECT doc_id,
                  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
           FROM f1) WHERE rn = 1),
       cls AS (
         SELECT b.doc_id, sum(w.w_milli)::BIGINT AS logit_milli
         FROM (SELECT f2.doc_id, abs({_QC_BUCKET})::BIGINT AS b
               FROM (SELECT d.doc_id, unnest({TOKS}) AS w
                     FROM documents d JOIN f2 ON f2.doc_id = d.doc_id) u
               JOIN f2 ON f2.doc_id = u.doc_id) b
         JOIN (SELECT DISTINCT b, {_QC_W}::BIGINT AS w_milli
               FROM (SELECT abs({_QC_BUCKET})::BIGINT AS b
                     FROM (SELECT d.doc_id, unnest({TOKS}) AS w
                           FROM documents d) u)) w ON b.b = w.b
         GROUP BY b.doc_id),
       f3 AS (SELECT doc_id FROM cls WHERE logit_milli > 0),
       n AS (
         SELECT (SELECT count(*) FROM s1)::BIGINT AS n0,
                (SELECT count(*) FROM f1)::BIGINT AS n1,
                (SELECT count(*) FROM f2)::BIGINT AS n2,
                (SELECT count(*) FROM f3)::BIGINT AS n3)
       SELECT 1::BIGINT AS gate, 'valid_text' AS name,
              n0 AS n_kept, 0::BIGINT AS n_removed,
              1.0 AS kept_frac FROM n
       UNION ALL
       SELECT 2, 'quality_floor', n1, n0 - n1,
              round(n1 * 1.0 / greatest(n0, 1), 6) FROM n
       UNION ALL
       SELECT 3, 'exact_dedup', n2, n1 - n2,
              round(n2 * 1.0 / greatest(n1, 1), 6) FROM n
       UNION ALL
       SELECT 4, 'classifier_keep', n3, n2 - n3,
              round(n3 * 1.0 / greatest(n2, 1), 6) FROM n""".format(
        QS="__QS__"
    ).replace("__QS__", tx.quality_score_sql("text")),
    doc="Curation gate ATTRITION funnel — the per-gate diagnostic every "
    "filtering pipeline publishes (what each gate removed, cumulatively) "
    "rather than only the final survivor stats "
    "(corpus_curation_pipeline): valid-text -> quality floor -> exact "
    "dedup survivor -> hashed-classifier keep, each gate applied to the "
    "previous gate's survivors, reported as kept/removed counts and "
    "kept fraction per gate. Composes the certified gate expressions "
    "verbatim. Scale shape: one scoring scan (narrow survivor frame "
    "checkpointed), one fingerprint window over survivors, one "
    "classifier pass semi-joined to the dedup survivors; counts are "
    "1-row aggregates unioned into a 4-row report.",
)
def q_curation_gate_attrition(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    docs = table(spark, sf, "documents")
    s1 = (
        docs.filter(F.col("text").isNotNull() & (F.length("text") >= 5))
        .select("doc_id", F.md5("text").alias("fp"), tx.quality_score("text").alias("q"))
        .transform(ckpt)  # feeds n0 count + the quality gate
    )
    f1 = s1.filter(F.col("q") >= 0.2)
    w = Window.partitionBy("fp").orderBy("doc_id")
    f2 = (
        f1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .transform(ckpt)  # feeds n2 count + the classifier pass
    )
    f3 = (
        classifier_scores(docs.join(f2, "doc_id", "left_semi"))
        .filter(F.col("keep"))
        .select("doc_id")
    )
    n0 = s1.agg(F.count("*").cast("long").alias("n0"))
    n1 = f1.agg(F.count("*").cast("long").alias("n1"))
    n2 = f2.agg(F.count("*").cast("long").alias("n2"))
    n3 = f3.agg(F.count("*").cast("long").alias("n3"))
    # materialize the 1-row count frame ONCE: the four gate rows below
    # each reference it, and without this the classifier pass would
    # re-execute per unioned row (4 corpus scans for a 4-row report)
    n = (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .transform(ckpt)
    )

    def gate(idx, name, kept, removed, frac):
        return n.select(
            F.lit(idx).cast("long").alias("gate"),
            F.lit(name).alias("name"),
            kept.cast("long").alias("n_kept"),
            removed.cast("long").alias("n_removed"),
            F.round(frac, 6).alias("kept_frac"),
        )

    return (
        gate(1, "valid_text", F.col("n0"), F.lit(0), F.lit(1.0))
        .unionByName(
            gate(
                2, "quality_floor", F.col("n1"), F.col("n0") - F.col("n1"),
                F.col("n1") * 1.0 / F.greatest(F.col("n0"), F.lit(1)),
            )
        )
        .unionByName(
            gate(
                3, "exact_dedup", F.col("n2"), F.col("n1") - F.col("n2"),
                F.col("n2") * 1.0 / F.greatest(F.col("n1"), F.lit(1)),
            )
        )
        .unionByName(
            gate(
                4, "classifier_keep", F.col("n3"), F.col("n2") - F.col("n3"),
                F.col("n3") * 1.0 / F.greatest(F.col("n2"), F.lit(1)),
            )
        )
    )


@register(
    "vocab_heaps_law",
    f"""WITH mx AS (SELECT max(doc_id)::BIGINT AS mid FROM documents),
       d AS (SELECT least(9, (10 * doc_id) // (mx.mid + 1))::BIGINT AS bkt,
                    {TOKS} AS t
             FROM documents, mx),
       tok AS (SELECT bkt, unnest(t) AS w FROM d),
       per_bkt AS (SELECT bkt, count(*)::BIGINT AS n_tokens FROM tok
                   GROUP BY bkt),
       first_b AS (SELECT w, min(bkt)::BIGINT AS fb FROM tok GROUP BY w),
       new_types AS (SELECT fb AS bkt, count(*)::BIGINT AS n_new
                     FROM first_b GROUP BY fb),
       cum AS (
         SELECT p.bkt,
                sum(p.n_tokens) OVER (ORDER BY p.bkt
                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens,
                sum(coalesce(n.n_new, 0)) OVER (ORDER BY p.bkt
                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_vocab
         FROM per_bkt p LEFT JOIN new_types n ON n.bkt = p.bkt)
       SELECT bkt, cum_tokens, cum_vocab,
              round(ln(CAST(cum_vocab AS DOUBLE))
                    / ln(CAST(cum_tokens AS DOUBLE)), 6) AS heaps_beta_upper
       FROM cum ORDER BY bkt""",
    doc="Heaps'-law vocabulary growth: the corpus splits into ten "
    "id-range deciles (bucket = 10*doc_id div (max_id+1) — a 1-row "
    "max broadcast, never a global rank window), each TYPE is charged "
    "to the first bucket it appears in (min bucket per token — one "
    "map-side-combinable aggregate over the token stream), and the "
    "10-row cumulative table reports V(N) with the log-ratio "
    "ln V/ln N (an upper bound on Heaps' beta since K >= 1) — the "
    "curve that predicts tokenizer vocabulary demand as a corpus "
    "grows toward 100 TB. Scale shape: one token-key shuffle + one "
    "bucket-domain aggregate; the only unpartitioned window runs over "
    "the 10-row bucket table.",
)
def q_vocab_heaps(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    docs = table(spark, sf, "documents")
    mx = docs.agg(F.max("doc_id").cast("long").alias("mid"))
    # d feeds BOTH downstream aggregates (per-bucket token totals and
    # first-bucket-per-type) — checkpoint the doc-level frame so the
    # tokenize + explode lineage runs once (scan-multiplicity rule)
    d = docs.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.lit(9).cast("long"),
            F.expr("CAST((10 * doc_id) DIV (mid + 1) AS BIGINT)"),
        ).alias("bkt"),
        tx.tokens("text").alias("t"),
    ).transform(ckpt)
    tok = d.select("bkt", F.explode("t").alias("w"))
    per_bkt = tok.groupBy("bkt").agg(F.count("*").cast("long").alias("n_tokens"))
    first_b = tok.groupBy("w").agg(F.min("bkt").cast("long").alias("fb"))
    new_types = first_b.groupBy(F.col("fb").alias("bkt")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    w_cum = Window.orderBy(F.asc("bkt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        per_bkt.join(F.broadcast(new_types), "bkt", "left")
        .select(
            "bkt",
            F.sum("n_tokens").over(w_cum).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w_cum)
            .cast("long")
            .alias("cum_vocab"),
        )
    )
    return cum.select(
        "bkt",
        "cum_tokens",
        "cum_vocab",
        F.round(
            F.log(F.col("cum_vocab").cast("double"))
            / F.log(F.col("cum_tokens").cast("double")),
            6,
        ).alias("heaps_beta_upper"),
    ).orderBy("bkt")


@register(
    "lm_domain_kl_divergence",
    f"""WITH tok AS (
         SELECT source, unnest(t) AS w
         FROM (SELECT source, {TOKS} AS t FROM documents)),
       sc AS (SELECT source, w, count(*)::BIGINT AS c
              FROM tok GROUP BY source, w),
       st AS (SELECT source, sum(c)::BIGINT AS n_s FROM sc GROUP BY source),
       cc AS (SELECT w, sum(c)::BIGINT AS cq FROM sc GROUP BY w),
       ct AS (SELECT sum(cq)::BIGINT AS n_q FROM cc),
       terms AS (
         SELECT sc.source,
                round((CAST(sc.c AS DOUBLE) / st.n_s)
                      * ln((CAST(sc.c AS DOUBLE) / st.n_s)
                           / (CAST(cc.cq AS DOUBLE) / ct.n_q)), 12) AS term
         FROM sc JOIN st USING (source) JOIN cc USING (w), ct)
       SELECT t.source, st.n_s AS n_tokens,
              round(CAST(sum(t.term::DECIMAL(25,12)) AS DOUBLE), 6)
                AS kl_nats
       FROM terms t JOIN st ON st.source = t.source
       GROUP BY t.source, st.n_s ORDER BY t.source""",
    doc="Per-domain KL divergence KL(p_source || p_corpus) over unigram "
    "token distributions — the domain-shift scalar data-mixing recipes "
    "weight by (a source far from the corpus mean costs more to "
    "upsample): every source token also appears in the corpus "
    "distribution, so q > 0 and no smoothing convention leaks into "
    "parity. Each term p·ln(p/q) is one shared IEEE tree over exact "
    "integer counts, rounded to 12 dp and accumulated as "
    "DECIMAL(25,12) (order-exact), one final 6-dp rounding. Scale "
    "shape: one (source, token) rollup shuffle, a token-key join "
    "against the vocab-bounded corpus distribution, and a "
    "source-domain-bounded aggregate.",
)
def q_lm_domain_kl(spark: SparkSession, sf: str):
    tok = table(spark, sf, "documents").select(
        "source", F.explode(tx.tokens("text")).alias("w")
    )
    sc = tok.groupBy("source", "w").agg(F.count("*").cast("long").alias("c"))
    sc = sc.transform(ckpt)
    st = sc.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    cc = sc.groupBy("w").agg(F.sum("c").cast("long").alias("cq"))
    ct = cc.agg(F.sum("cq").cast("long").alias("n_q"))
    p = F.col("c").cast("double") / F.col("n_s")
    q = F.col("cq").cast("double") / F.col("n_q")
    terms = (
        sc.join(F.broadcast(st), "source")
        .join(cc, "w")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            "n_s",
            F.round(p * F.log(p / q), 12).alias("term"),
        )
    )
    return (
        terms.groupBy("source", "n_s")
        .agg(
            F.round(F.sum(F.col("term").cast("decimal(25,12)")).cast("double"), 6)
            .alias("kl_nats")
        )
        .select("source", F.col("n_s").alias("n_tokens"), "kl_nats")
        .orderBy("source")
    )


# --- per-document character-bigram entropy (r9) ----------------------------


@register(
    "text_char_entropy",
    """WITH d AS (
         SELECT doc_id, lower(text) AS t FROM documents
         WHERE text IS NOT NULL AND length(text) >= 2),
       b AS (
         SELECT doc_id,
                unnest([substr(t, i, 2)
                        for i in generate_series(1, length(t) - 1)]) AS bg
         FROM d),
       c AS (SELECT doc_id, bg, count(*)::BIGINT AS c
             FROM b GROUP BY doc_id, bg),
       n AS (SELECT doc_id, sum(c)::BIGINT AS n FROM c GROUP BY doc_id),
       e AS (
         SELECT c.doc_id, n.n,
                round(log2(n.n)
                      - sum(round(c.c * log2(c.c), 9)::DECIMAL(20,9))::DOUBLE
                        / n.n, 6) AS ent
         FROM c JOIN n USING (doc_id)
         GROUP BY c.doc_id, n.n)
       SELECT doc_id, n AS n_bigrams, ent AS char_bigram_entropy,
              ent < 3.0 AS low_entropy_flag
       FROM e""",
    doc="Per-document character-bigram Shannon entropy — the classic "
    "model-free gibberish/boilerplate signal (low entropy = repeated "
    "padding, key-mash, template residue; it needs no fitted LM, so it "
    "complements lm_perplexity_scores' bigram cross-entropy which "
    "measures IN-DISTRIBUTION-ness, not internal diversity). Computed "
    "as log2(n) - sum(c*log2 c)/n over exact integer bigram counts; "
    "each c*log2(c) term rounds to 9 dp and sums as DECIMAL(20,9) (the "
    "file's lm_perplexity_scores discipline — a raw-double sum is "
    "accumulation-order-dependent and can flip the 6-dp value between "
    "engines), then one double divide/subtract and one final 6-dp "
    "rounding; the <3.0-bit flag compares the ROUNDED entropy so the "
    "boolean can never disagree with the printed value. Scale "
    "shape: character-volume-bound explode into a two-stage keyed "
    "aggregate ((doc, bigram) then doc — both map-side combinable, "
    "state bounded by per-doc alphabet^2), embarrassingly parallel at "
    "any corpus size; no window, no join.",
)
def q_text_char_entropy(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") >= 2))
        .select("doc_id", F.lower(F.col("text")).alias("t"))
    )
    b = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("bg"),
    )
    c = b.groupBy("doc_id", "bg").agg(F.count("*").cast("long").alias("c"))
    # per-term 9-dp round + DECIMAL sum (deterministic regardless of
    # accumulation order), then a single double divide/subtract and ONE
    # final rounding; the flag reads the rounded value. n and the term
    # sum fold in ONE doc-level aggregate — the former separate-total +
    # join-back shape cost an extra exchange and a self-join for numbers
    # the same rollup already sees (measured 2.9 -> 2.7 s median at
    # sf0.1 — the bigram explode dominates locally; the join removal is
    # the structural win at 100 TB, where the joined side is
    # corpus-sized).
    term = F.round(F.col("c") * F.log2(F.col("c")), 9).cast("decimal(20,9)")
    agg = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(term).alias("st"),
    )
    ent = F.round(
        F.log2(F.col("n")) - F.col("st").cast("double") / F.col("n"), 6
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_bigrams"),
        ent.alias("char_bigram_entropy"),
        (ent < 3.0).alias("low_entropy_flag"),
    )


# --- round-9 batch B: pairwise source-vocabulary Jaccard -------------------

_VJ_TOP = 200  # top-K tokens per source (pinned job parameter)


@register(
    "lm_vocab_jaccard_sources",
    f"""WITH d AS (SELECT source, {TOKS} AS t FROM documents),
       tok AS (SELECT source, unnest(t) AS w FROM d),
       cnt AS (SELECT source, w, count(*)::BIGINT AS c
               FROM tok GROUP BY source, w),
       ranked AS (
         SELECT source, w,
                row_number() OVER (PARTITION BY source
                                   ORDER BY c DESC, w) AS rk
         FROM cnt),
       top AS (SELECT source, w FROM ranked WHERE rk <= {_VJ_TOP}),
       sz AS (SELECT source, count(*)::BIGINT AS sz FROM top GROUP BY source),
       inter AS (SELECT a.source AS source_a, b.source AS source_b,
                        count(*)::BIGINT AS n_inter
                 FROM top a JOIN top b ON a.w = b.w AND a.source < b.source
                 GROUP BY a.source, b.source),
       pairs AS (SELECT x.source AS source_a, y.source AS source_b
                 FROM sz x JOIN sz y ON x.source < y.source)
       SELECT p.source_a, p.source_b,
              coalesce(i.n_inter, 0)::BIGINT AS n_inter,
              (sa.sz + sb.sz - coalesce(i.n_inter, 0))::BIGINT AS n_union,
              round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                    / (sa.sz + sb.sz - coalesce(i.n_inter, 0)), 6) AS jaccard
       FROM pairs p
       LEFT JOIN inter i ON i.source_a = p.source_a
                         AND i.source_b = p.source_b
       JOIN sz sa ON sa.source = p.source_a
       JOIN sz sb ON sb.source = p.source_b""",
    doc="Pairwise Jaccard similarity of the per-source top-200 "
    f"vocabularies (K={_VJ_TOP} pinned, ties broken by token — fully "
    "deterministic): the corpus-mixture diagnostic that tells a "
    "curation pass which sources are lexically redundant (near-1 "
    "Jaccard = overlapping registers, candidates for down-weighting in "
    "curation_epoch_plan's mixture) and which contribute novel "
    "vocabulary (the complement of lm_domain_kl_divergence, which "
    "scores distribution shift rather than set overlap). The top-K "
    "rank window is PARTITIONED by source; every downstream join runs "
    "on the (source x K)-bounded top tables and the 20-source pair "
    "spine — the token stream is scanned once into a map-side-"
    "combinable (source, token) rollup. Scale shape: one scan + one "
    "key-shuffle aggregate, then domain-table joins (<=190 pairs).",
)
def q_lm_vocab_jaccard_sources(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    tok = (
        table(spark, sf, "documents")
        .select("source", F.explode(tx.tokens("text")).alias("w"))
    )
    cnt = tok.groupBy("source", "w").agg(F.count("*").cast("long").alias("c"))
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("w"))
    )
    top = (
        cnt.withColumn("rk", rk)
        .filter(F.col("rk") <= _VJ_TOP)
        .select("source", "w")
        .transform(ckpt)  # <=source x K rows; feeds 3 branches
    )
    sz = top.groupBy("source").agg(F.count("*").cast("long").alias("sz"))
    a = top.select(F.col("source").alias("source_a"), "w")
    b = top.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("sz").alias("sza"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("sz").alias("szb"))
    pairs = sa.crossJoin(F.broadcast(sb)).filter(
        F.col("source_a") < F.col("source_b")
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0)).cast("long")
    return (
        pairs.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            ni.alias("n_inter"),
            (F.col("sza") + F.col("szb") - ni).cast("long").alias("n_union"),
            F.round(
                ni.cast("double") / (F.col("sza") + F.col("szb") - ni), 6
            ).alias("jaccard"),
        )
    )


# --- round-9 batch D: subword fertility -------------------------------------


@register(
    "lm_subword_fertility",
    f"""WITH d AS (
         SELECT source,
                len({_BPE_T})::BIGINT AS n_bpe,
                len({TOKS})::BIGINT AS n_ws
         FROM documents)
       SELECT source, count(*)::BIGINT AS n_docs,
              sum(n_ws)::BIGINT AS n_ws_tokens,
              sum(n_bpe)::BIGINT AS n_bpe_tokens,
              round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws), 6) AS fertility
       FROM d WHERE n_ws > 0 GROUP BY source""",
    doc="Subword fertility per source: BPE tokens emitted per whitespace "
    "word (the standard tokenizer-quality metric — fertility near 1 "
    "means the vocabulary covers the register; high fertility marks "
    "sources the tokenizer fragments, which inflates training cost "
    "per effective word and skews mixture weights computed in tokens). "
    "Uses the repo's deterministic BPE encoder (functions/bpe.py, the "
    "bpe_encode_tokens machinery) against the whitespace tokenization "
    "both engines share. Scale shape: one scan-fused projection "
    "(two array lengths per doc, no explode), one source-domain "
    "aggregate — map-side combinable.",
)
def q_lm_subword_fertility(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions import bpe as _bpe

    d = table(spark, sf, "documents").select(
        "source",
        F.size(_bpe.bpe_tokens("text")).cast("long").alias("n_bpe"),
        F.size(tx.tokens("text")).cast("long").alias("n_ws"),
    )
    return (
        d.filter(F.col("n_ws") > 0)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_ws").cast("long").alias("n_ws_tokens"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
            ).alias("fertility"),
        )
    )


@register(
    "text_token_burstiness",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       nd AS (SELECT count(*)::BIGINT AS n_docs FROM d),
       tok AS (SELECT doc_id, unnest(t) AS w FROM d),
       dc AS (SELECT w, doc_id, count(*)::BIGINT AS c
              FROM tok GROUP BY w, doc_id),
       totals AS (SELECT w, sum(c)::BIGINT AS total,
                         count(*)::BIGINT AS df,
                         sum(c::DECIMAL(38,0) * c)::DECIMAL(38,0) AS q
                  FROM dc GROUP BY w),
       top AS (SELECT * FROM totals ORDER BY total DESC, w LIMIT 50)
       SELECT t.w AS token, t.total, t.df,
              round(CAST(t.total AS DOUBLE) / n.n_docs, 6) AS mean_count,
              round((CAST(t.q AS DOUBLE)
                     - CAST(t.total AS DOUBLE) * t.total / n.n_docs)
                    / (n.n_docs - 1), 6) AS var_count,
              round(((CAST(t.q AS DOUBLE)
                      - CAST(t.total AS DOUBLE) * t.total / n.n_docs)
                     / (n.n_docs - 1))
                    / (CAST(t.total AS DOUBLE) / n.n_docs), 6) AS fano
       FROM top t, nd n""",
    doc="Token burstiness (Church-Gale): the Fano factor "
    "var/mean of per-document counts — over ALL documents, zeros "
    "included — for the top-50 corpus tokens. Function words scatter "
    "evenly (Fano near 1, Poisson-like); topical/boilerplate tokens "
    "are bursty (Fano >> 1) — the signal that separates stopword "
    "candidates from content terms better than raw frequency, and a "
    "boilerplate detector when burstiness is extreme. Zeros need no "
    "densification: with Σc and Σc² accumulated only over occurring "
    "docs, mean = Σc/N and var = (Σc² - (Σc)²/N)/(N-1) are already "
    "the all-docs moments (absent docs contribute 0 to both sums) — "
    "exact integers into one shared IEEE expression. Scale shape: one "
    "token explode into a (token, doc) rollup, a token-level "
    "aggregate, TakeOrdered(50), one 1-row N broadcast.",
)
def q_text_token_burstiness(spark: SparkSession, sf: str):
    d = table(spark, sf, "documents")
    nd = d.agg(F.count("*").cast("long").alias("n_docs"))
    dc = (
        d.select("doc_id", F.explode(tx.tokens("text")).alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    totals = dc.groupBy("w").agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("df"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q"),
    )
    top = totals.orderBy(F.desc("total"), F.asc("w")).limit(50)
    mean = F.col("total").cast("double") / F.col("n_docs")
    var = (
        F.col("q").cast("double")
        - F.col("total").cast("double") * F.col("total") / F.col("n_docs")
    ) / (F.col("n_docs") - 1)
    return top.crossJoin(F.broadcast(nd)).select(
        F.col("w").alias("token"),
        "total",
        "df",
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(var / mean, 6).alias("fano"),
    )


# --- round-10: corpus self-BLEU (diversity) ----------------------------------

_SB_BIGRAMS = (
    "list_transform(range(1, greatest(len(t) - 1, 0) + 1),"
    " i -> t[i] || ' ' || t[i+1])"
)


@register(
    "lm_self_bleu_proxy",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents
              WHERE text IS NOT NULL),
       b AS (SELECT doc_id, unnest({_SB_BIGRAMS}) AS bg
             FROM d WHERE len(t) >= 2),
       c AS (SELECT doc_id, {HASH.format(e="bg")} AS gh,
                    count(*)::BIGINT AS cdoc
             FROM b GROUP BY doc_id, gh),
       g AS (SELECT gh, sum(cdoc)::BIGINT AS cglob FROM c GROUP BY gh)
       SELECT c.doc_id,
              sum(c.cdoc)::BIGINT AS n_bigrams,
              round(CAST(sum(least(c.cdoc, g.cglob - c.cdoc)) AS DOUBLE)
                    / sum(c.cdoc), 6) AS self_bleu2
       FROM c JOIN g USING (gh)
       GROUP BY c.doc_id""",
    doc="Per-document self-BLEU (clipped bigram precision against the "
    "REST of the corpus): sum_g min(c_doc(g), C(g) - c_doc(g)) / "
    "n_bigrams_doc — the corpus-DIVERSITY metric from the text-"
    "generation literature (high self-BLEU = the doc is assembled from "
    "phrases the corpus already repeats — templated/mode-collapsed "
    "data; low = fresh phrasing). Complements corpus_ngram_novelty "
    "(binary seen/unseen across a split) with the clipped-COUNT "
    "precision on the full corpus, and text_repetition_stats "
    "(WITHIN-doc repeats) with the cross-doc view. EXACT integer "
    "clipping per (doc, bigram); one rounded division per doc. Scale "
    "shape: bigrams hash to 8-byte ints pre-shuffle, (doc, gram) and "
    "gram rollups both map-side combinable, flagging is a gram-key "
    "equi-join (AQE covers hot boilerplate grams) — never all-pairs.",
)
def q_lm_self_bleu(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import _hash_sql

    toks = tx.tokens("text")
    base = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
    )
    b = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bg"),
    )
    c = b.select("doc_id", F.expr(_hash_sql("bg")).alias("gh")).groupBy(
        "doc_id", "gh"
    ).agg(F.count("*").cast("long").alias("cdoc"))
    g = c.groupBy("gh").agg(F.sum("cdoc").cast("long").alias("cglob"))
    return (
        c.join(g, "gh")
        .groupBy("doc_id")
        .agg(
            F.sum("cdoc").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.least(F.col("cdoc"), F.col("cglob") - F.col("cdoc")))
                .cast("double")
                / F.sum("cdoc"),
                6,
            ).alias("self_bleu2"),
        )
    )


# --- round-11 head start: MATTR lexical diversity ------------------------------

_MATTR_W = 25  # moving-average TTR window (tokens)


@register(
    "text_mattr_diversity",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents
              WHERE text IS NOT NULL),
       nz AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM d WHERE len(t) >= 1),
       m AS (
         SELECT doc_id, n,
                CASE WHEN n < {_MATTR_W}
                     THEN round(len(list_distinct(t)) * 1.0 / n, 6)
                     ELSE round(list_sum(list_transform(
                            range(1, n - {_MATTR_W} + 2),
                            i -> len(list_distinct(
                                   list_slice(t, i, i + {_MATTR_W} - 1)))))
                          * 1.0 / ((n - {_MATTR_W} + 1) * {_MATTR_W}), 6)
                END AS mattr
         FROM nz)
       SELECT doc_id, n AS n_tokens, mattr FROM m""",
    doc="Moving-average type-token ratio (MATTR, Covington-McFall) per "
    f"document at window W={_MATTR_W}: the mean of distinct/W over "
    "every W-token sliding window — the lexical-diversity measure that, "
    "unlike raw TTR, does not fall mechanically with document length "
    "(short docs below W fall back to plain TTR over their full "
    "length). Complements text_repetition_stats (fixed n-gram repeat "
    "fractions) with the windowed vocabulary view — template/"
    "mode-collapse text shows low MATTR even when no single n-gram "
    "dominates. Exact integer distinct counts per window, one rounded "
    "division per doc. Scale shape: pure per-row higher-order array "
    "functions inside whole-stage codegen — window count is bounded by "
    "per-doc token length, no shuffle, no UDF, embarrassingly "
    "parallel.",
)
def q_text_mattr(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", tx.tokens("text").alias("t"))
        .filter(F.size("t") >= 1)
        .select("doc_id", "t", F.size("t").cast("long").alias("n"))
    )
    w = _MATTR_W
    short = F.round(
        F.size(F.array_distinct("t")) * 1.0 / F.col("n"), 6
    )
    long_ = F.round(
        F.expr(
            f"aggregate(transform(sequence(1, n - {w} + 1),"
            f" i -> size(array_distinct(slice(t, i, {w})))),"
            f" 0L, (acc, x) -> acc + x)"
        )
        * 1.0
        / ((F.col("n") - w + 1) * w),
        6,
    )
    return d.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.when(F.col("n") < w, short).otherwise(long_).alias("mattr"),
    )


# --- round-11: lexical-richness scalars (Yule's K, hapax profile) -----------


@register(
    "text_yule_k",
    f"""WITH d AS (SELECT source, {TOKS} AS t FROM documents
                 WHERE text IS NOT NULL),
       tok AS (SELECT source, unnest(t) AS tok FROM d),
       c AS (SELECT source, tok, count(*)::BIGINT AS c
             FROM tok GROUP BY 1, 2),
       s AS (SELECT source, sum(c)::BIGINT AS n,
                    count(*)::BIGINT AS v,
                    sum(c::DECIMAL(38,0) * c)::DECIMAL(38,0) AS s2
             FROM c GROUP BY source)
       SELECT source, n AS n_tokens, v AS n_types,
              round(10000.0 * (CAST(s2 AS DOUBLE) - n) / (CAST(n AS DOUBLE) * n), 4)
                AS yule_k
       FROM s""",
    doc="Yule's K lexical-richness characteristic per source: K = 1e4 * "
    "(sum(c^2) - N) / N^2 over exact type frequencies — the classic "
    "repetitiveness scalar that, unlike type/token ratio, is "
    "(asymptotically) TEXT-LENGTH INVARIANT, so sources of different "
    "volume are directly comparable (the cross-source companion to "
    "text_mattr_diversity's windowed TTR and vocab_heaps_law's growth "
    "fit). Frequency moments accumulate as exact BIGINT/DECIMAL(38,0); "
    "one double division rounded once. Scale shape: explode -> two "
    "map-side-combinable aggregates ((source, token) then source) — "
    "the same shuffle budget as a word count; no window, no join.",
)
def q_text_yule_k(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", F.explode(tx.tokens("text")).alias("tok"))
    )
    c = d.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c"))
    s = c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("v"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.round(
            10000.0
            * (F.col("s2").cast("double") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n")),
            4,
        ).alias("yule_k"),
    )


@register(
    "text_hapax_legomena",
    f"""WITH d AS (SELECT source, {TOKS} AS t FROM documents
                 WHERE text IS NOT NULL),
       tok AS (SELECT source, unnest(t) AS tok FROM d),
       c AS (SELECT source, tok, count(*)::BIGINT AS c
             FROM tok GROUP BY 1, 2),
       s AS (SELECT source,
                    count(*)::BIGINT AS v,
                    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS v1,
                    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS v2,
                    sum(c)::BIGINT AS n
             FROM c GROUP BY source)
       SELECT source, n AS n_tokens, v AS n_types,
              v1 AS n_hapax, v2 AS n_dis,
              round(v1 * 1.0 / v, 6) AS hapax_ratio,
              round(v2 * 1.0 / v, 6) AS sichel_s
       FROM s""",
    doc="Hapax-legomena profile per source: counts of once-occurring (V1) "
    "and twice-occurring (V2) types, the hapax ratio V1/V (the "
    "vocabulary-saturation signal — a corpus still discovering new "
    "words has a high hapax share; boilerplate-heavy or deduplicated "
    "text collapses it) and Sichel's S = V2/V (empirically stable "
    "across text sizes — a drift check between crawl snapshots). "
    "Exact integer counts; two rounded divisions per source row. "
    "Scale shape: identical to text_yule_k — explode plus two "
    "map-side-combinable aggregates, no window, no join.",
)
def q_text_hapax_legomena(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", F.explode(tx.tokens("text")).alias("tok"))
    )
    c = d.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c"))
    s = c.groupBy("source").agg(
        F.count("*").cast("long").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("v2"),
        F.sum("c").cast("long").alias("n"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.col("v1").alias("n_hapax"),
        F.col("v2").alias("n_dis"),
        F.round(F.col("v1") * 1.0 / F.col("v"), 6).alias("hapax_ratio"),
        F.round(F.col("v2") * 1.0 / F.col("v"), 6).alias("sichel_s"),
    )


# --- round-11: word-bigram conditional entropy -------------------------------

_WBIGRAMS = (
    "list_transform(range(1, greatest(len(t) - 1, 0) + 1),"
    " i -> t[i] || ' ' || t[i+1])"
)


@register(
    "lm_bigram_cond_entropy",
    f"""WITH d AS (SELECT source, {TOKS} AS t FROM documents
                 WHERE text IS NOT NULL),
       bg AS (SELECT source, unnest({_WBIGRAMS}) AS b
              FROM d WHERE len(t) >= 2),
       cb AS (SELECT source, b, count(*)::BIGINT AS c
              FROM bg GROUP BY 1, 2),
       cf AS (SELECT source, split_part(b, ' ', 1) AS w1,
                     sum(c)::BIGINT AS c
              FROM cb GROUP BY 1, 2),
       sb AS (SELECT source, sum(c)::BIGINT AS n,
                     count(*)::BIGINT AS vb,
                     sum(round(c * log2(c), 9)::DECIMAL(20,9)) AS tb
              FROM cb GROUP BY source),
       sf2 AS (SELECT source,
                      sum(round(c * log2(c), 9)::DECIMAL(20,9)) AS tf
               FROM cf GROUP BY source)
       SELECT sb.source, sb.n AS n_bigrams, sb.vb AS n_distinct_bigrams,
              round(log2(sb.n) - CAST(sb.tb AS DOUBLE) / sb.n, 6)
                AS h_joint_bits,
              round((CAST(sf2.tf AS DOUBLE) - CAST(sb.tb AS DOUBLE)) / sb.n, 6)
                AS h_cond_bits,
              round(pow(2.0, (CAST(sf2.tf AS DOUBLE)
                              - CAST(sb.tb AS DOUBLE)) / sb.n), 4)
                AS branching_factor
       FROM sb JOIN sf2 USING (source)""",
    doc="Word-bigram conditional entropy H(w2|w1) per source = H(w1,w2) - "
    "H(w1), computed from exact bigram counts (the first-word marginal "
    "telescopes from the bigram table, so H_cond = (sum cf*log2(cf) - "
    "sum cb*log2(cb))/N without a second tokenize pass); 2^H_cond is "
    "the effective next-word branching factor — the n-gram-level "
    "'how predictable is this source' scalar that complements "
    "lm_perplexity_scores (model-based) and text_char_entropy "
    "(character-level). Each c*log2(c) term rounds to 9 dp and sums "
    "as DECIMAL(20,9) (the r10-advice float discipline). Scale "
    "shape: one explode, then three map-side-combinable aggregates "
    "(bigram -> first-word rollup -> source) — word-count shuffle "
    "budget, no window.",
)
def q_lm_bigram_cond_entropy(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("t", tx.tokens("text"))
        .filter(F.size("t") >= 2)
    )
    bg = d.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("b"),
    )
    cb = bg.groupBy("source", "b").agg(F.count("*").cast("long").alias("c"))
    cf = cb.groupBy(
        "source", F.substring_index(F.col("b"), " ", 1).alias("w1")
    ).agg(F.sum("c").cast("long").alias("c"))
    term = lambda: F.sum(  # noqa: E731
        F.round(F.col("c") * F.log2(F.col("c")), 9).cast("decimal(20,9)")
    )
    sb = cb.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("vb"),
        term().alias("tb"),
    )
    sf2 = cf.groupBy("source").agg(term().alias("tf"))
    j = sb.join(sf2, "source")
    hc = (F.col("tf").cast("double") - F.col("tb").cast("double")) / F.col("n")
    return j.select(
        "source",
        F.col("n").alias("n_bigrams"),
        F.col("vb").alias("n_distinct_bigrams"),
        F.round(
            F.log2(F.col("n")) - F.col("tb").cast("double") / F.col("n"), 6
        ).alias("h_joint_bits"),
        F.round(hc, 6).alias("h_cond_bits"),
        F.round(F.pow(F.lit(2.0), hc), 4).alias("branching_factor"),
    )


# --- round-11: n-gram coverage curve (train -> test backoff rates) ------------

from annotations_ingester_spark.functions.hashing import md5_hash64_sql as _mh64sql  # noqa: E402

_NGC_SPLIT = _mh64sql("'split:' || doc_id::VARCHAR")


def _ngc_gram_list(n: int) -> str:
    """DuckDB n-gram string list over token array ``t``."""
    if n == 1:
        return "t"
    joined = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1),"
        f" i -> {joined})"
    )


@register(
    "lm_ngram_coverage_curve",
    f"""WITH d AS (
         SELECT doc_id, {TOKS} AS t,
                ({_NGC_SPLIT} % 100 < 80) AS is_train
         FROM documents WHERE text IS NOT NULL),
       grams AS (
         SELECT is_train, 1 AS n, unnest({_ngc_gram_list(1)}) AS g FROM d
         UNION ALL
         SELECT is_train, 2, unnest({_ngc_gram_list(2)}) FROM d
           WHERE len(t) >= 2
         UNION ALL
         SELECT is_train, 3, unnest({_ngc_gram_list(3)}) FROM d
           WHERE len(t) >= 3),
       dist AS (SELECT DISTINCT is_train, n, g FROM grams),
       test AS (SELECT n, g FROM dist WHERE NOT is_train),
       train AS (SELECT n, g FROM dist WHERE is_train),
       cov AS (
         SELECT test.n, count(*)::BIGINT AS n_test_grams,
                sum(CASE WHEN train.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_covered
         FROM test LEFT JOIN train ON test.n = train.n AND test.g = train.g
         GROUP BY test.n)
       SELECT n::BIGINT AS ngram_order, n_test_grams, n_covered,
              round(n_covered * 1.0 / n_test_grams, 6) AS coverage
       FROM cov""",
    doc="N-gram coverage curve from the hash-train split to the held-out "
    "20%: for n = 1/2/3, the fraction of DISTINCT test n-grams that "
    "appear anywhere in train — the backoff/OOV ladder every n-gram "
    "LM and retrieval index is sized against (unigram coverage bounds "
    "the OOV rate, trigram coverage predicts how often a backoff "
    "model actually backs off; complements lm_oov_rate_by_vocab_size, "
    "which sweeps vocab SIZE at fixed n=1). All three gram orders "
    "come out of ONE scan (a tagged union of per-row gram lists — "
    "no per-order re-tokenize) and reduce to distinct sets before "
    "the train-probe join, so the join keys are vocabulary-bounded, "
    "never token-stream-sized. Exact counts, one rounded division "
    "per row. Scale shape: one explode + distinct rollup, one "
    "equi-join on (n, gram) — word-count shuffle class.",
)
def q_lm_ngram_coverage_curve(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            tx.tokens("text").alias("t"),
            (
                md5_hash64(
                    F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
                )
                % 100
                < 80
            ).alias("is_train"),
        )
    )

    def gram_expr(n: int) -> str:
        if n == 1:
            return f"transform(t, g -> named_struct('n', {n}L, 'g', g))"
        parts = ", ".join(f"element_at(t, i + {j})" for j in range(n))
        return (
            f"CASE WHEN size(t) >= {n} THEN"
            f" transform(sequence(1, size(t) - {n - 1}),"
            f" i -> named_struct('n', {n}L, 'g', concat_ws(' ', {parts})))"
            f" ELSE array() END"
        )

    grams = d.select(
        "is_train",
        F.explode(
            F.expr(
                f"concat({gram_expr(1)}, {gram_expr(2)}, {gram_expr(3)})"
            )
        ).alias("s"),
    ).select("is_train", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    dist = grams.distinct()
    test = dist.filter(~F.col("is_train")).select("n", "g")
    train = dist.filter(F.col("is_train")).select(
        "n", F.col("g").alias("g_t")
    )
    cov = (
        test.join(
            train, (test["n"] == train["n"]) & (test["g"] == train["g_t"]), "left"
        )
        .groupBy(test["n"].alias("ngram_order"))
        .agg(
            F.count("*").cast("long").alias("n_test_grams"),
            F.sum(F.when(F.col("g_t").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return cov.select(
        "ngram_order",
        "n_test_grams",
        "n_covered",
        F.round(F.col("n_covered") * 1.0 / F.col("n_test_grams"), 6).alias(
            "coverage"
        ),
    )


# --- round-11: pairwise source Jensen-Shannon divergence -----------------------

_JS_TOP = 200  # global top-K token domain (pinned job parameter)


@register(
    "lm_js_divergence_sources",
    f"""WITH d AS (SELECT source, {TOKS} AS t FROM documents
                 WHERE text IS NOT NULL),
       tok AS (SELECT source, unnest(t) AS tok FROM d),
       cs AS (SELECT source, tok, count(*)::BIGINT AS c
              FROM tok GROUP BY 1, 2),
       ns AS (SELECT source, sum(c)::BIGINT AS n FROM cs GROUP BY source),
       topt AS (SELECT tok FROM (
                  SELECT tok, sum(c)::BIGINT AS tc FROM cs GROUP BY tok
                  ORDER BY tc DESC, tok LIMIT {_JS_TOP})),
       grid AS (
         SELECT ns.source, topt.tok,
                coalesce(cs.c, 0) * 1.0 / ns.n AS p
         FROM ns CROSS JOIN topt
         LEFT JOIN cs ON cs.source = ns.source AND cs.tok = topt.tok
         UNION ALL
         SELECT ns.source, chr(2) || 'OOV',
                (ns.n - coalesce(tt.s, 0)) * 1.0 / ns.n
         FROM ns LEFT JOIN (
           SELECT cs.source, sum(cs.c)::BIGINT AS s
           FROM cs JOIN topt ON cs.tok = topt.tok
           GROUP BY cs.source) tt ON tt.source = ns.source),
       pair AS (
         SELECT a.source AS source_a, b.source AS source_b,
                a.p AS p, b.p AS q
         FROM grid a JOIN grid b
           ON a.tok = b.tok AND a.source < b.source),
       js AS (
         SELECT source_a, source_b,
                sum(round(
                  CASE WHEN p > 0
                       THEN 0.5 * p * log2(p / ((p + q) / 2)) ELSE 0 END
                  + CASE WHEN q > 0
                         THEN 0.5 * q * log2(q / ((p + q) / 2)) ELSE 0 END,
                  9)::DECIMAL(20,9)) AS js_sum
         FROM pair GROUP BY 1, 2)
       SELECT source_a, source_b,
              round(CAST(js_sum AS DOUBLE), 6) AS js_bits,
              round(sqrt(greatest(CAST(js_sum AS DOUBLE), 0.0)), 6)
                AS js_distance
       FROM js""",
    doc="Pairwise Jensen-Shannon divergence between source unigram "
    "distributions over the global top-200 token domain plus a "
    "per-source OOV bucket (mass-complete, so the distributions sum "
    "to 1 and JS is a true bounded [0,1]-bit divergence; its square "
    "root is a METRIC — usable directly as a mixture-design distance "
    "where lm_domain_kl_divergence's asymmetric KL and lm_vocab_"
    "jaccard_sources' set overlap are not). Per-token terms round "
    "to 9 dp and sum as DECIMAL; the token domain is PINNED at 200 "
    "+ OOV so the pair table is (sources^2 x 201)-bounded however "
    "large the corpus. Scale shape: one token rollup, a structural "
    "top-200 pick (TakeOrdered — no global rank window), a "
    "broadcast-able domain grid, one equi-join on token.",
)
def q_lm_js_divergence_sources(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", F.explode(tx.tokens("text")).alias("tok"))
    )
    cs = d.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("c")
    ).transform(ckpt)  # (source, token) counts; feeds 4 uses
    ns = cs.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    topt = (
        cs.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("tok"))
        .limit(_JS_TOP)
        .select("tok")
    )
    grid_top = (
        ns.crossJoin(F.broadcast(topt))
        .join(cs, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("n")).alias("p"),
        )
    )
    tt = (
        cs.join(F.broadcast(topt), "tok")
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("s"))
    )
    grid_oov = ns.join(tt, "source", "left").select(
        "source",
        F.concat(F.lit("\x02"), F.lit("OOV")).alias("tok"),
        (
            (F.col("n") - F.coalesce(F.col("s"), F.lit(0))) * 1.0 / F.col("n")
        ).alias("p"),
    )
    grid = grid_top.unionByName(grid_oov)
    a = grid.select(F.col("source").alias("source_a"), "tok", F.col("p").alias("p"))
    b = grid.select(F.col("source").alias("source_b"), "tok", F.col("p").alias("q"))
    pair = a.join(b, "tok").filter(F.col("source_a") < F.col("source_b"))
    m = (F.col("p") + F.col("q")) / 2
    term = F.round(
        F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log2(F.col("p") / m)).otherwise(
            0.0
        )
        + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log2(F.col("q") / m)).otherwise(
            0.0
        ),
        9,
    ).cast("decimal(20,9)")
    js = pair.groupBy("source_a", "source_b").agg(F.sum(term).alias("js_sum"))
    jd = F.col("js_sum").cast("double")
    return js.select(
        "source_a",
        "source_b",
        F.round(jd, 6).alias("js_bits"),
        F.round(F.sqrt(F.greatest(jd, F.lit(0.0))), 6).alias("js_distance"),
    )


# --- round-11: rank-based token typicality -------------------------------------

_TYP_ATYPICAL_BITS = 9.0  # mean log2(corpus rank) gate, pinned


@register(
    "lm_token_rank_typicality",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents
                 WHERE text IS NOT NULL),
       tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
       cs AS (SELECT tok, count(*)::BIGINT AS c FROM tok GROUP BY tok),
       rk AS (SELECT tok,
                     row_number() OVER (ORDER BY c DESC, tok)::BIGINT AS r
              FROM cs),
       j AS (SELECT tok.doc_id, rk.r FROM tok JOIN rk USING (tok)),
       agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                      sum(round(log2(r), 9)::DECIMAL(20,9)) AS lr
               FROM j GROUP BY doc_id)
       SELECT doc_id, n_tokens,
              round(CAST(lr AS DOUBLE) / n_tokens, 6) AS mean_log2_rank,
              round(CAST(lr AS DOUBLE) / n_tokens, 6)
                > {_TYP_ATYPICAL_BITS!r} AS atypical
       FROM agg""",
    doc="Rank-based token typicality per document: the mean log2 of each "
    "token's corpus-frequency rank (total order: count desc, token "
    "asc) — the model-free cousin of lm_perplexity_scores' unigram "
    "cross-entropy (log-rank ~ log inverse frequency under Zipf, "
    "vocab_zipf_slope measures exactly that link) used as a cheap "
    "data-filtering signal: documents living deep in the rank tail "
    "are jargon/noise/other-language candidates. Per-token log terms "
    "round to 9 dp and sum as DECIMAL per doc; flag on the ROUNDED "
    "mean against a pinned gate. Scale shape: one token rollup, a "
    "VOCABULARY-bounded global rank (the ssjoin prefix-order "
    "discipline — never over the token stream), one equi-join of "
    "tokens to ranks (AQE skew-split handles the hot head tokens), "
    "one per-doc aggregate.",
)
def q_lm_token_rank_typicality(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
        .transform(ckpt)  # token facts; feed counts + re-join
    )
    cs = d.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    rk = cs.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("tok")))
        .cast("long")
        .alias("r"),
    )
    j = d.join(rk, "tok").select("doc_id", "r")
    agg = j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.round(F.log2("r"), 9).cast("decimal(20,9)")).alias("lr"),
    )
    mean = F.round(F.col("lr").cast("double") / F.col("n_tokens"), 6)
    return agg.select(
        "doc_id",
        "n_tokens",
        mean.alias("mean_log2_rank"),
        (mean > F.lit(_TYP_ATYPICAL_BITS)).alias("atypical"),
    )


# --- round-12 session: unigram-surprisal quality + OCR-garbage screen ---------

_SURPRISAL_HIGH_NATS = 8.0  # pinned 'unusual document' gate


@register(
    "lm_unigram_surprisal_quality",
    f"""WITH d AS (
         SELECT doc_id, {tx.tokens_sql("text")} AS t
         FROM documents WHERE text IS NOT NULL),
       tok AS (SELECT doc_id, unnest(t) AS w FROM d WHERE len(t) >= 1),
       dt AS (SELECT doc_id, w, count(*)::BIGINT AS k
              FROM tok GROUP BY doc_id, w),
       voc AS (SELECT w, sum(k)::BIGINT AS c FROM dt GROUP BY w),
       tot AS (SELECT sum(c)::BIGINT AS big_n FROM voc),
       per AS (
         SELECT dt.doc_id,
                sum(dt.k)::BIGINT AS n_tokens,
                sum(dt.k * -ln(voc.c * 1.0 / tot.big_n)) AS s
         FROM dt JOIN voc USING (w), tot
         GROUP BY dt.doc_id)
       SELECT doc_id, n_tokens,
              round(s / n_tokens, 6) AS mean_surprisal_nats,
              round(s / n_tokens, 6) >= {_SURPRISAL_HIGH_NATS!r}
                AS high_surprisal
       FROM per""",
    doc="Per-document mean unigram surprisal under the corpus's own "
    "unigram model: -(1/n) sum ln(c_w/N) — the cheapest member of the "
    "CCNet-style LM-quality-filter family (lm_perplexity_scores is "
    "the bigram KN tier; this is the model-free tier that needs no "
    "smoothing because every token is in-vocabulary by construction). "
    "High surprisal = rare-token-dense documents (jargon, noise, "
    "other languages); the pinned 8.0-nat gate flags them for the "
    "quality ladder. Counts roll up exactly; each doc's surprisal "
    "sums k_w * ln(c_w/N) over its DISTINCT words (bounded by doc "
    "vocabulary). Scale shape: one token explode, one (doc, word) "
    "rollup feeding the vocab rollup and the per-doc join (AQE "
    "broadcasts the vocab side while it fits), one 1-row total "
    "broadcast.",
)
def q_lm_unigram_surprisal(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", tx.tokens("text").alias("t"))
        .filter(F.size("t") >= 1)
    )
    tok = d.select("doc_id", F.explode("t").alias("w"))
    dt = (
        tok.groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("k"))
        .transform(ckpt)  # feeds the vocab rollup + the join
    )
    voc = dt.groupBy("w").agg(F.sum("k").cast("long").alias("c"))
    tot = voc.agg(F.sum("c").cast("long").alias("big_n"))
    per = (
        dt.join(voc, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(
                F.col("k") * -F.log(F.col("c") * 1.0 / F.col("big_n"))
            ).alias("s"),
        )
    )
    mean_s = F.round(F.col("s") / F.col("n_tokens"), 6)
    return per.select(
        "doc_id",
        "n_tokens",
        mean_s.alias("mean_surprisal_nats"),
        (mean_s >= F.lit(_SURPRISAL_HIGH_NATS)).alias("high_surprisal"),
    )


_OCR_CONSONANT_RUN = "[bcdfghjklmnpqrstvwxz]{5,}"
_OCR_MIXED_TOKEN = "^[a-z]+[0-9]+[a-z0-9]*$"
_OCR_GARBAGE_GATE = 0.05


@register(
    "text_ocr_garbage_score",
    f"""WITH d AS (
         SELECT doc_id, text, lower(text) AS lt,
                {tx.tokens_sql("text")} AS t
         FROM documents WHERE text IS NOT NULL),
       m AS (
         SELECT doc_id,
                length(text)::BIGINT AS n_chars,
                len(t)::BIGINT AS n_tokens,
                length(regexp_replace(text, '[a-zA-Z0-9[:space:]]', '', 'g'))
                  ::BIGINT AS n_symbol_chars,
                len(regexp_extract_all(lt, '{_OCR_CONSONANT_RUN}'))::BIGINT
                  AS n_consonant_runs,
                len(list_filter(t, x -> regexp_matches(x,
                    '{_OCR_MIXED_TOKEN}')))::BIGINT AS n_mixed_tokens
         FROM d WHERE len(t) >= 1)
       SELECT doc_id, n_chars, n_tokens, n_symbol_chars,
              n_consonant_runs, n_mixed_tokens,
              round(n_symbol_chars * 1.0 / n_chars
                    + n_consonant_runs * 1.0 / n_tokens
                    + n_mixed_tokens * 1.0 / n_tokens, 6) AS garbage_score,
              round(n_symbol_chars * 1.0 / n_chars
                    + n_consonant_runs * 1.0 / n_tokens
                    + n_mixed_tokens * 1.0 / n_tokens, 6)
                >= {_OCR_GARBAGE_GATE!r} AS garbage_suspect
       FROM m""",
    doc="OCR/extraction-garbage screen: per document, the three classic "
    "mojibake signals — symbol-character ratio (non-alphanumeric, "
    "non-whitespace), 5+-consonant runs per token (OCR column-merge "
    "artifacts like 'rnm' ligature soup), and mixed letter-digit "
    "tokens per token ('l0rem', 'co1umn') — combined into one score "
    "with a pinned suspicion gate. Catches the PDF/OCR junk that "
    "passes text_quality_scores (length/stopwords look fine) and the "
    "Gopher flags (word lengths look fine): the signals here are "
    "CHARACTER-shape pathologies. Regexes use only character classes "
    "and bounded quantifiers (Java-regex/RE2 identical). All counts "
    "are exact integers from one scan-fused projection — no explode, "
    "no shuffle, no join.",
)
def q_text_ocr_garbage(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "text",
            F.lower(F.col("text")).alias("lt"),
            tx.tokens("text").alias("t"),
        )
        .filter(F.size("t") >= 1)
    )
    m = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size("t").cast("long").alias("n_tokens"),
        F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", ""))
        .cast("long")
        .alias("n_symbol_chars"),
        F.size(F.regexp_extract_all("lt", F.lit(_OCR_CONSONANT_RUN)))
        .cast("long")
        .alias("n_consonant_runs"),
        F.size(
            F.filter(
                "t", lambda x: x.rlike(_OCR_MIXED_TOKEN)
            )
        )
        .cast("long")
        .alias("n_mixed_tokens"),
    )
    score = F.round(
        F.col("n_symbol_chars") * 1.0 / F.col("n_chars")
        + F.col("n_consonant_runs") * 1.0 / F.col("n_tokens")
        + F.col("n_mixed_tokens") * 1.0 / F.col("n_tokens"),
        6,
    )
    return m.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_symbol_chars",
        "n_consonant_runs",
        "n_mixed_tokens",
        score.alias("garbage_score"),
        (score >= F.lit(_OCR_GARBAGE_GATE)).alias("garbage_suspect"),
    )
