"""Round-5 analytics families: entity resolution, exact set-similarity
joins, semantic dedup, time-series prep, graph census/importance, inverted
index, data-profiling diagnostics, and the streaming sessionization twin.

Every entry is a (Spark builder, DuckDB oracle) pair obeying the catalog
parity rules (plans/catalog.py docstring): identical aliases, decimal-exact
sums, rounded doubles, total orderings.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from annotations_ingester_spark.functions import text as tx
from annotations_ingester_spark.plans.catalog import (
    DAILY_CENTS_CTE,
    DAILY_TYPE_COUNTS_CTE,
    ckpt,
    daily_cents,
    daily_type_counts,
    events_stream,
    events_table,
    register,
    table,
    utc_label,
)

TOKS = tx.tokens_sql("text")

# ---- entity resolution ------------------------------------------------------


@register(
    "er_blocked_name_matches",
    """WITH b AS (
         SELECT c_custkey, c_name, c_nationkey, substr(c_name, 1, 15) AS pref
         FROM customer)
       SELECT a.c_custkey AS id_a, b2.c_custkey AS id_b,
              levenshtein(a.c_name, b2.c_name)::BIGINT AS lev
       FROM b a JOIN b b2
         ON a.c_nationkey = b2.c_nationkey AND a.pref = b2.pref
       WHERE a.c_custkey < b2.c_custkey
         AND levenshtein(a.c_name, b2.c_name) <= 2""",
    doc="Blocked entity resolution: candidate pairs share a blocking key "
    "(nation + 15-char name prefix — an equi-join, never all-pairs), then "
    "edit-distance verification (levenshtein ≤ 2) runs only inside "
    "blocks. Cost ∝ Σ block², governed by block design; skewed blocks "
    "surface in profile_key_skew and are fixed by refining the key.",
)
def q_er_blocked(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.linkage import blocked_levenshtein_pairs

    cust = table(spark, sf, "customer")
    return blocked_levenshtein_pairs(
        cust,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=[F.col("c_nationkey"), F.substring("c_name", 1, 15)],
        max_distance=2,
    )


_SH3 = (
    "list_transform(range(1, greatest(len(t) - 2, 0) + 1),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


@register(
    "ssjoin_jaccard_prefix",
    f"""WITH d0 AS (SELECT doc_id, {TOKS} AS t FROM documents),
       d AS (SELECT doc_id, list_distinct({_SH3}) AS t FROM d0),
       d2 AS (SELECT doc_id, t FROM d WHERE len(t) > 0)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              len(list_intersect(a.t, b.t))::BIGINT AS inter,
              round(len(list_intersect(a.t, b.t))
                    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) AS jac
       FROM d2 a JOIN d2 b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.t, b.t)) * 1.0
             / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.6""",
    doc="Exact set-similarity join (3-gram shingle sets, Jaccard ≥ 0.6) "
    "via AllPairs prefix filtering: candidates = pairs sharing an element "
    "in their rarest-first prefixes (length m − ⌈τm⌉ + 1 — a THEOREM, "
    "zero false negatives; property-tested against the naive join), "
    "verified by exact intersection. Shingle sets, not unigram sets: "
    "same-domain vocabularies overlap heavily (unigram J ≥ 0.6 matched "
    "28% of ALL pairs on this corpus); shingle sets only overlap under "
    "real near-duplication. The oracle is the naive O(N²) join — correct "
    "at gate scale, and exactly what the prefix filter must reproduce.",
)
def q_ssjoin(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.linkage import jaccard_prefix_join

    return jaccard_prefix_join(table(spark, sf, "documents"), threshold=0.6, ngram=3)


# ---- semantic dedup ---------------------------------------------------------

# Nearest-centroid assignment CTE — identical semantics to kmeans_assign
# (exact-decimal L2², argmin with centroid-id tie-break); centroids are the
# fixed seed RATE vec_id % 59 = 0 — unlike the kmeans family's capped seed
# set, k here scales WITH the corpus so expected cell size stays ~59 at any
# scale factor: within-cell pair cost stays linear in N (Σ cell² ≈ N·59).
# That is the SemDeDup posture — cell size is the job parameter, not k.
_ASSIGN_CTE = """b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       c AS (SELECT vec_id AS centroid_id, e AS ce FROM b
            WHERE vec_id % 59 = 0),
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
       d2t AS (
         SELECT vd.vec_id, cd.centroid_id,
                sum(((vd.v - cd.cv) * (vd.v - cd.cv))::DECIMAL(28,12)) AS d2
         FROM vd JOIN cd USING (dim)
         GROUP BY vd.vec_id, cd.centroid_id),
       assign AS (
         SELECT vec_id, centroid_id
         FROM (SELECT vec_id, centroid_id,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, centroid_id) AS rn
               FROM d2t)
         WHERE rn = 1)"""

_COS_XY = (
    "round(CASE WHEN sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)) > 0"
    " THEN list_dot_product(x.e, y.e)"
    " / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))"
    " ELSE 0.0 END, 6)"
)


@register(
    "semantic_dedup_pairs",
    f"""WITH {_ASSIGN_CTE}
       SELECT a1.centroid_id, a1.vec_id AS id_a, a2.vec_id AS id_b,
              {_COS_XY} AS cos
       FROM assign a1
       JOIN assign a2 ON a1.centroid_id = a2.centroid_id
                     AND a1.vec_id < a2.vec_id
       JOIN b x ON x.vec_id = a1.vec_id
       JOIN b y ON y.vec_id = a2.vec_id
       WHERE {_COS_XY} >= 0.35""",
    doc="SemDeDup-style semantic near-dup pairs: broadcast k-means cell "
    "assignment is the bucket; pairwise cosine runs ONLY within a cell "
    "(candidates ∝ Σ cell², never N²). Cell SIZE is the job parameter "
    "(seed rate 1/59), so k grows with the corpus and the pair join "
    "stays linear in N; the exact broadcast N·k assignment is the "
    "embarrassingly-parallel SemDeDup fit cost (billion-scale deployments "
    "swap in the IVF coarse assignment). Boundary-straddling pairs are "
    "missed by design — the sign-bucket path (embedding_near_dup_pairs) "
    "is the recall-oriented alternative.",
)
def q_semantic_dedup(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import semantic_dedup_pairs

    emb = table(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") % 59 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return semantic_dedup_pairs(emb, cents, threshold=0.35)


# ---- time series ------------------------------------------------------------


@register(
    "timeseries_gapfill_locf",
    """WITH ev AS (
         SELECT user_id, (floor(epoch(ts))::BIGINT // 3600) * 3600 AS bucket, value
         FROM events WHERE user_id < 50),
       obs AS (
         SELECT user_id, bucket,
                round(CAST(sum(value::DECIMAL(18,6)) AS DOUBLE) / count(*), 6) AS v
         FROM ev GROUP BY user_id, bucket),
       span AS (SELECT user_id, min(bucket) AS b_min, max(bucket) AS b_max
                FROM ev GROUP BY user_id),
       grid AS (SELECT user_id, unnest(generate_series(b_min, b_max, 3600)) AS bucket
                FROM span)
       SELECT g.user_id, g.bucket AS bucket_s,
              last_value(o.v IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
              (o.v IS NULL) AS is_gap
       FROM grid g LEFT JOIN obs o
         ON g.user_id = o.user_id AND g.bucket = o.bucket""",
    doc="Per-key hourly grid + last-observation-carried-forward: "
    "sequence/explode generates each key's OWN span (rows ∝ key span, "
    "never a global calendar cross join), observations land via a left "
    "equi-join, and the carry-forward is a one-pass last(ignorenulls) "
    "running window. user_id < 50 is the job's key subset — an absolute "
    "parameter, so output size is fixed across scale factors.",
)
def q_gapfill(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.timeseries import gapfill_locf

    ev = events_table(spark, sf).filter(F.col("user_id") < 50)
    return gapfill_locf(ev, key_col="user_id", ts_col="ts_s", value_col="value").select(
        F.col("key").alias("user_id"), "bucket_s", "value_filled", "is_gap"
    )


@register(
    "timeseries_zscore_anomalies",
    """WITH ev AS (
         SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_s,
                round(value, 6)::DECIMAL(18,6) AS v6
         FROM events),
       st AS (
         SELECT user_id, ts_s, event_id, v6,
                count(v6) OVER w AS n,
                CAST(sum(v6) OVER w AS DOUBLE) AS s1,
                CAST(sum((v6 * v6)::DECIMAL(38,12)) OVER w AS DOUBLE) AS s2
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id
                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
       SELECT user_id, ts_s, event_id,
              CAST(v6 AS DOUBLE) AS value6,
              round(s1 / n, 6) AS mean_prev,
              round((CAST(v6 AS DOUBLE) - s1 / n)
                    / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS z
       FROM st
       WHERE n >= 10 AND (s2 - s1 * s1 / n) / (n - 1) > 0
         AND abs((CAST(v6 AS DOUBLE) - s1 / n)
                 / sqrt((s2 - s1 * s1 / n) / (n - 1))) >= 3.0""",
    doc="Rolling z-score anomaly flags: mean/variance of the PREVIOUS 20 "
    "rows per key (bounded ROW frame excluding the current row) from "
    "decimal-exact Σv and Σv² — never stddev over raw doubles, whose "
    "accumulation order differs across engines — so the |z| ≥ 3 decision "
    "is bit-identical anywhere. One shuffle on the key; state per key is "
    "the 20-row frame.",
)
def q_zscore(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.timeseries import rolling_zscore_anomalies

    ev = events_table(spark, sf)
    return rolling_zscore_anomalies(
        ev, key_col="user_id", order_cols=("ts_s", "event_id"), value_col="value"
    ).select(
        F.col("key").alias("user_id"), "ts_s", "event_id", "value6", "mean_prev", "z"
    )


# ---- graph analytics --------------------------------------------------------


def _lsh_edges(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    pairs = lsh_candidate_pairs(lsh_band_keys(minhash_signatures(table(spark, sf, "documents"))))
    return pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))


# the minhash band CTE — same construction as minhash_lsh_pairs' oracle
def _lsh_edges_sql() -> str:
    from annotations_ingester_spark.plans.queries_scale import SIG_CTE

    return f"""{SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       e AS (
         SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id)"""


@register(
    "graph_triangle_count",
    None,  # filled in below (needs the SIG_CTE import at module load)
    doc="Triangle census of the MinHash-LSH candidate graph — the health "
    "metric for dedup output (duplicate clusters are cliques → high "
    "transitivity; spurious collisions are isolated wedges). Oriented "
    "wedge join (src < dst) counts each triangle once at its lowest "
    "node: cost Σ deg⁺², never all-pairs; wedge totals stay in integer "
    "arithmetic end-to-end.",
)
def q_triangles(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import triangle_stats

    return triangle_stats(_lsh_edges(spark, sf))


@register(
    "graph_pagerank_2iter",
    """WITH e0 AS (
         SELECT user_id, event_type, count(*) AS w FROM events GROUP BY user_id, event_type),
       e AS (
         SELECT 'u:' || user_id::VARCHAR AS src, 't:' || event_type AS dst, w::DOUBLE AS w FROM e0
         UNION ALL
         SELECT 't:' || event_type, 'u:' || user_id::VARCHAR, w::DOUBLE FROM e0),
       ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),
       nodes AS (SELECT DISTINCT node FROM (
         SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
       c1 AS (
         SELECT e.dst AS node,
                CAST(sum(round(r.rank * e.w / ow.out_w, 10)::DECIMAL(28,10)) AS DOUBLE) AS s
         FROM e JOIN ow USING (src) JOIN r0 r ON r.node = e.src
         GROUP BY e.dst),
       r1 AS (SELECT n.node, round(0.15 + 0.85 * coalesce(c1.s, 0.0), 10) AS rank
              FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
       c2 AS (
         SELECT e.dst AS node,
                CAST(sum(round(r.rank * e.w / ow.out_w, 10)::DECIMAL(28,10)) AS DOUBLE) AS s
         FROM e JOIN ow USING (src) JOIN r1 r ON r.node = e.src
         GROUP BY e.dst),
       r2 AS (SELECT n.node, round(0.15 + 0.85 * coalesce(c2.s, 0.0), 10) AS rank
              FROM nodes n LEFT JOIN c2 ON n.node = c2.node)
       SELECT node, round(rank, 6) AS rank FROM r2""",
    doc="Weighted PageRank (2 synchronous iterations, d=0.85) over the "
    "bipartite user↔event-type interaction graph. Per iteration: one "
    "shuffle keyed on dst (contribution sum) + one equi-join of ranks "
    "onto edges keyed on src. Contributions round to 10 dp and sum as "
    "DECIMAL — exact under any accumulation order, so the unrolled SQL "
    "twin hash-matches bit-for-bit.",
)
def q_pagerank(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import pagerank_iterations

    ev = events_table(spark, sf)
    e0 = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("w"))
    u = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    t = F.concat(F.lit("t:"), F.col("event_type"))
    edges = e0.select(u.alias("src"), t.alias("dst"), "w").unionAll(
        e0.select(t.alias("src"), u.alias("dst"), "w")
    )
    ranks = pagerank_iterations(edges, n_iters=2, damping=0.85, weight="w")
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# ---- inverted index ---------------------------------------------------------


@register(
    "inverted_index_postings",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       p AS (
         SELECT doc_id, s.i AS p, s.tok
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(t)),
                                            i -> {{'i': i, 'tok': t[i + 1]}})) AS s
               FROM d)),
       f AS (SELECT tok AS term, doc_id, min(p) AS fp FROM p GROUP BY tok, doc_id)
       SELECT term, count(*) AS df,
              string_agg(doc_id::VARCHAR || ':' || fp::VARCHAR, ',' ORDER BY doc_id) AS postings
       FROM f GROUP BY term HAVING count(*) >= 25""",
    doc="Inverted-index build: term → document frequency + canonical "
    "postings string (doc:first_pos, sorted by doc id). posexplode + two "
    "hash aggregations; per-term lists bounded by df (the bound any "
    "posting list has); sorting is per-term array_sort, no global sort. "
    "df ≥ 25 is an output-volume knob, not a plan change.",
)
def q_inverted_index(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.search import inverted_index

    return inverted_index(table(spark, sf, "documents"), min_df=25)


# ---- profiling diagnostics --------------------------------------------------


@register(
    "profile_histogram_totalprice",
    """WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
       b AS (
         SELECT least(floor((o_totalprice - mn) / ((mx - mn) / 20.0))::BIGINT, 19) AS bucket,
                o_totalprice, mn, mx
         FROM orders, s)
       SELECT bucket, count(*) AS n,
              round(mn + bucket * ((mx - mn) / 20.0), 2) AS bucket_lo,
              CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS total
       FROM b GROUP BY bucket, mn, mx""",
    doc="Equi-width 20-bucket histogram: global min/max (one 1-row "
    "aggregate, broadcast) then a map-side-combinable bucket count — two "
    "scans, zero wide shuffles. Identical double arithmetic both engines "
    "(same operand order), so bucket edges match exactly.",
)
def q_histogram(spark: SparkSession, sf: str):
    orders = table(spark, sf, "orders")
    s = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(20.0)
    b = orders.crossJoin(F.broadcast(s)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast("long"),
            F.lit(19).cast("long"),
        ).alias("bucket"),
        "o_totalprice",
        "mn",
        "mx",
    )
    return b.groupBy("bucket", "mn", "mx").agg(
        F.count("*").alias("n"),
        F.round(F.col("mn") + F.col("bucket") * width, 2).alias("bucket_lo"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    ).select("bucket", "n", "bucket_lo", "total")


@register(
    "profile_key_skew",
    """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id)
       SELECT count(*) AS n_keys,
              CAST(sum(c) AS BIGINT) AS total,
              CAST(max(c) AS BIGINT) AS max_c,
              round(quantile_cont(c, 0.5), 4) AS p50,
              round(quantile_cont(c, 0.9), 4) AS p90,
              round(quantile_cont(c, 0.99), 4) AS p99,
              round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_share,
              round(CAST(sum(c * c) AS DOUBLE)
                    / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 8) AS hhi
       FROM c""",
    doc="Shuffle-key skew diagnostics: per-key count distribution "
    "(exact interpolated percentiles), heaviest-key share, and the "
    "Herfindahl index from integer-exact Σc and Σc² — the numbers that "
    "decide whether a key needs salting (operators/skew.py) before a "
    "100 TB groupBy/join. Two aggregations, the second over one row per "
    "key.",
)
def q_key_skew(spark: SparkSession, sf: str):
    ev = events_table(spark, sf)
    c = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    return c.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("total"),
        F.max("c").alias("max_c"),
        F.round(F.expr("percentile(c, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(c, 0.9D)"), 4).alias("p90"),
        F.round(F.expr("percentile(c, 0.99D)"), 4).alias("p99"),
        F.round(F.max("c").cast("double") / F.sum("c").cast("double"), 6).alias(
            "top_share"
        ),
        F.round(
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c").cast("double")),
            8,
        ).alias("hhi"),
    )


# ---- streaming sessionization ----------------------------------------------


@register(
    "streaming_sessionization",
    """WITH ev AS (
         SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_s FROM events),
       flagged AS (
         SELECT user_id, ts_s,
                CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
                     THEN 1 ELSE 0 END AS new_sess
         FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       sessed AS (
         SELECT user_id, ts_s,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
         FROM flagged)
       SELECT user_id,
              strftime(make_timestamp(min(ts_s) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
              count(*) AS n_events
       FROM sessed GROUP BY user_id, sid""",
    doc="Structured Streaming session windows run for real: readStream → "
    "session_window(ts, 30 min) per user → complete-mode memory sink, "
    "driven with availableNow. Session state is per (user, open session) "
    "and merges on arrival — the stateful shape for clickstream "
    "sessionization at production rates. Stream result ≡ the batch "
    "session_window_events oracle.",
)
def q_streaming_sessions(spark: SparkSession, sf: str):
    ev = events_stream(spark, sf).withColumn("ts_t", F.timestamp_seconds("ts_s"))
    agg = (
        ev.groupBy(F.session_window("ts_t", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            utc_label("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("streaming_sessionization_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_sessionization_out")


# triangle-count oracle needs SIG_CTE from queries_scale (imported lazily to
# dodge a circular import at module-definition time)
from annotations_ingester_spark.plans.catalog import REGISTRY as _REG  # noqa: E402

_REG["graph_triangle_count"].oracle = f"""WITH {_lsh_edges_sql()},
       deg AS (
         SELECT node, count(*) AS deg
         FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
         GROUP BY node),
       base AS (
         SELECT count(*) AS n_nodes,
                CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         FROM deg),
       ne AS (SELECT count(*) AS n_edges FROM e),
       tri AS (
         SELECT count(*) AS n_triangles
         FROM e e1
         JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
         JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
       SELECT n_nodes, n_edges, n_wedges, n_triangles,
              CASE WHEN n_wedges > 0
                   THEN round(3.0 * n_triangles / n_wedges, 6)
                   ELSE 0.0 END AS transitivity
       FROM base, ne, tri"""


# ---- ER entity clustering (match pairs → canonical entity ids) --------------


@register(
    "er_entity_clusters",
    """WITH RECURSIVE b AS (
         SELECT c_custkey, c_name, c_nationkey, substr(c_name, 1, 15) AS pref
         FROM customer),
       pairs AS (
         SELECT a.c_custkey AS doc_a, b2.c_custkey AS doc_b
         FROM b a JOIN b b2
           ON a.c_nationkey = b2.c_nationkey AND a.pref = b2.pref
         WHERE a.c_custkey < b2.c_custkey
           AND levenshtein(a.c_name, b2.c_name) <= 1),
       edges AS (
         SELECT doc_a AS u, doc_b AS v FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE r.u <> e.v),
       cc AS (
         SELECT u AS c_custkey, least(u, min(v))::BIGINT AS entity_id
         FROM reach GROUP BY u)
       SELECT entity_id, count(*) AS n_members,
              min(c_custkey)::BIGINT AS min_member, max(c_custkey)::BIGINT AS max_member
       FROM cc GROUP BY entity_id""",
    doc="Entity resolution end-to-end: blocked levenshtein ≤ 1 match pairs "
    "→ connected components (union-find on the driver for ≤ 2^16 "
    "oriented edge rows, probed before any shuffle; else large-star/"
    "small-star, O(log n) checkpoint-cycled rounds) → canonical entity "
    "id (min member) with member stats. The composition a master-data "
    "pipeline runs: match, then transitively close, then pick survivors. "
    "Oracle: recursive-CTE closure over the same pair set.",
)
def q_er_clusters(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.cluster import connected_components
    from annotations_ingester_spark.operators.linkage import blocked_levenshtein_pairs

    cust = table(spark, sf, "customer")
    pairs = blocked_levenshtein_pairs(
        cust,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=[F.col("c_nationkey"), F.substring("c_name", 1, 15)],
        max_distance=1,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    cc = connected_components(pairs)
    return cc.groupBy(F.col("cluster_id").alias("entity_id")).agg(
        F.count("*").alias("n_members"),
        F.min("node").alias("min_member"),
        F.max("node").alias("max_member"),
    )


# ---- bounded-lookback EWMA --------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_STEPS = 20
# identical double literals on both sides: weights α(1−α)^j rendered via repr
_EWMA_W = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_STEPS)]


def _ewma_sql() -> str:
    num = " + ".join(
        f"(CASE WHEN lag(v, {j}) OVER w IS NOT NULL THEN {w!r} * lag(v, {j}) OVER w ELSE 0.0 END)"
        for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v, {j}) OVER w IS NOT NULL THEN {w!r} ELSE 0.0 END)"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""WITH ev AS (
         SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_s,
                CAST(round(value, 6) AS DOUBLE) AS v
         FROM events)
       SELECT user_id, ts_s, event_id,
              round(({num}) / ({den}), 6) AS ewma
       FROM ev
       WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)"""


@register(
    "timeseries_ewma",
    _ewma_sql(),
    doc="Bounded-lookback EWMA (α=0.3, 20 steps): the infinite-memory "
    "recurrence is truncated to a 20-lag linear combination — one window "
    "pass per key, fixed per-row state, and (unlike the recurrence) "
    "expressible as pure codegen'd column arithmetic. Weight literals and "
    "left-to-right summation order are identical in both engines, so the "
    "doubles match bit-for-bit. Early rows renormalize over the lags that "
    "exist (partial-window normalization).",
)
def q_ewma(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ev = events_table(spark, sf).select(
        "user_id",
        "event_id",
        "ts_s",
        F.round(F.col("value"), 6).cast("double").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j, wt in enumerate(_EWMA_W):
        lj = F.lag("v", j).over(w)
        num = num + F.when(lj.isNotNull(), F.lit(wt) * lj).otherwise(F.lit(0.0))
        den = den + F.when(lj.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return ev.select(
        "user_id", "ts_s", "event_id", F.round(num / den, 6).alias("ewma")
    )


# ---- SQL-dialect surface: native recursive CTE ------------------------------


def _blast_sql(edges_cte: str) -> str:
    """Hop-bounded recursive reachability text shared VERBATIM by both
    engines (Spark 4 WITH RECURSIVE requires UNION ALL in the recursive
    member; the hop bound guarantees termination on the cyclic graph and
    the final min(hop) collapses duplicate paths)."""
    return f"""WITH RECURSIVE {edges_cte},
       seeds AS (
         SELECT doc_id FROM documents WHERE source = 'src0'),
       reach(doc_id, hop) AS (
         SELECT doc_id, 0 FROM seeds
         UNION ALL
         SELECT e.v, r.hop + 1
         FROM reach r JOIN edges e ON e.u = r.doc_id
         WHERE r.hop < 3)
       SELECT doc_id, CAST(min(hop) AS BIGINT) AS min_hops
       FROM reach GROUP BY doc_id HAVING min(hop) > 0"""


@register(
    "recursive_cte_blast_radius",
    None,  # oracle filled in below (needs the minhash band CTE)
    doc="Native SQL recursion (Spark 4 WITH RECURSIVE): transitive "
    "contamination blast radius — documents within ≤3 hops of the "
    "held-out split (source=src0) in the MinHash-LSH candidate graph; a "
    "doc near-duplicating a doc that near-duplicates an eval doc is "
    "still tainted. The recursive member is UNION ALL (Spark's "
    "requirement) with a strict hop bound, so it terminates on the "
    "cyclic graph; min(hop) collapses duplicate paths. Duplicate "
    "clusters are tiny by construction, so path multiplicity stays "
    "bounded — the SQL-dialect surface; operators/cluster.py remains "
    "the 100 TB closure path.",
)
def q_recursive_blast(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # Materialize the candidate edges ONCE: the recursive member re-reads
    # the edge view every hop, and an unmaterialized view would re-run
    # the whole MinHash/banding pipeline per iteration (the same
    # consumed-N-times class the graph/CC operators fixed — here hidden
    # behind SQL recursion instead of an unrolled loop).
    pairs = (
        lsh_candidate_pairs(
            lsh_band_keys(minhash_signatures(table(spark, sf, "documents")))
        )
        .select("doc_a", "doc_b")
        .transform(ckpt)
    )
    pairs.createOrReplaceTempView("_recursive_blast_edges_v")
    # registered under the bare table name on purpose: the recursive SQL
    # text is shared VERBATIM with the DuckDB oracle, which reads its
    # pre-registered `documents` view; re-registered per invocation so the
    # view always tracks this call's sf_dir
    table(spark, sf, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _blast_sql(
            """edges AS (
         SELECT doc_a AS u, doc_b AS v FROM _recursive_blast_edges_v
         UNION ALL SELECT doc_b, doc_a FROM _recursive_blast_edges_v)"""
        )
    )


def _blast_oracle() -> str:
    from annotations_ingester_spark.plans.queries_scale import SIG_CTE

    return _blast_sql(
        f"""{SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       edges AS (
         SELECT doc_a AS u, doc_b AS v FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs)"""
    )


_REG["recursive_cte_blast_radius"].oracle = _blast_oracle()


# ---- UDF surface: Python UDTF (arrow-optimized table function) --------------


@register(
    "udtf_sentence_split",
    r"""WITH s AS (
         SELECT doc_id, u.s.i AS i, u.s.raw AS raw
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(p)),
                                            i -> {'i': i, 'raw': p[i + 1]})) AS s
               FROM (SELECT doc_id, string_split(text, '.') AS p FROM documents)) u),
       f AS (
         SELECT doc_id, i, trim(raw, ' ') AS sentence
         FROM s WHERE trim(raw, ' ') <> '')
       SELECT doc_id,
              row_number() OVER (PARTITION BY doc_id ORDER BY i) AS sent_idx,
              sentence, length(sentence)::BIGINT AS n_chars
       FROM f""",
    doc="Python UDTF surface (SURVEY §2.9, Spark 4 arrow-optimized "
    "user-defined TABLE function): one input row fans out to N output "
    "rows (sentence segmentation) through a LATERAL join — the API for "
    "Python logic whose output cardinality varies per row (parsers, "
    "chunkers, span extractors). Arrow-batched, never row-at-a-time "
    "pickling.",
)
def q_udtf(spark: SparkSession, sf: str):
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx bigint, sentence string, n_chars bigint", useArrow=True)
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for raw in text.split("."):
                sent = raw.strip(" ")
                if sent:
                    idx += 1
                    yield idx, sent, len(sent)

    spark.udtf.register("_sentence_split_udtf", SentenceSplit)
    table(spark, sf, "documents").createOrReplaceTempView("_udtf_docs_v")
    return spark.sql(
        """SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
           FROM _udtf_docs_v d, LATERAL _sentence_split_udtf(d.text) s"""
    )


# ---- multi-format source/sink fidelity --------------------------------------


@register(
    "format_roundtrip_checksum",
    """WITH rows_c AS (
         SELECT ('0x' || substr(md5(
           doc_id::VARCHAR || '|' || md5(text) || '|' || lang || '|' ||
           source || '|' || n_chars::VARCHAR), 1, 15))::BIGINT AS h
         FROM documents),
       c AS (SELECT count(*) AS n, bit_xor(h) AS xor_checksum,
                    sum(h)::DECIMAL(38,0)::VARCHAR AS sum_checksum
             FROM rows_c)
       SELECT f.fmt, TRUE AS checksum_equal, c.n, c.xor_checksum, c.sum_checksum
       FROM (VALUES ('csv'), ('json'), ('orc')) f(fmt), c""",
    doc="Multi-format source/sink fidelity, run for real: the documents "
    "table is written out as CSV, JSON-lines, and ORC, read back through "
    "each format's reader (explicit schema — no inference scan), and "
    "order-insensitively checksummed (count + XOR + decimal sum of "
    "portable row hashes) against the parquet original. One row per "
    "format proves byte-faithful round-trips — the format surface a "
    "migration in or out of the lake crosses; the oracle pins the "
    "checksums to DuckDB's independent computation. CSV gets explicit "
    "quote/escape/multiLine options so embedded delimiters or newlines "
    "cannot silently corrupt a future corpus.",
)
def q_format_roundtrip(spark: SparkSession, sf: str):
    import shutil
    import tempfile

    from annotations_ingester_spark.functions.hashing import md5_hash64

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    row_repr = F.concat_ws(
        "|",
        F.col("doc_id"),
        F.md5(F.col("text")),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars"),
    )

    def checksum(df):
        return (
            df.select(md5_hash64(row_repr).alias("h"))
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(h)").alias("xor_checksum"),
                F.sum(F.col("h").cast("decimal(38,0)"))
                .cast("string")
                .alias("sum_checksum"),
            )
            .collect()[0]  # 1-row aggregate — a scalar fetch, not a bulk collect
        )

    src = table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    base = checksum(src)
    work = tempfile.mkdtemp(prefix="spark_graft_fmt_")
    # nullValue sentinel keeps NULL and empty-string distinct through the
    # round-trip (the CSV default reads an empty field back as NULL) —
    # pinned with adversarial content in test_analytics_ops.py
    csv_opts = {
        "header": "true",
        "quote": '"',
        "escape": '"',
        "multiLine": "true",
        "nullValue": "\\N",
    }
    out_rows = []
    try:
        for fmt in ("csv", "json", "orc"):
            path = f"{work}/{fmt}"
            w = src.write.mode("overwrite")
            r = spark.read
            if fmt == "csv":
                for k, v in csv_opts.items():
                    w = w.option(k, v)
                    r = r.option(k, v)
            w.format(fmt).save(path)
            back = checksum(r.schema(schema).format(fmt).load(path))
            out_rows.append(
                (
                    fmt,
                    tuple(back) == tuple(base),
                    int(back["n"]),
                    int(back["xor_checksum"]),
                    str(back["sum_checksum"]),
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out_rows,
        "fmt string, checksum_equal boolean, n long, xor_checksum long, sum_checksum string",
    )


@register(
    "graph_label_propagation",
    """WITH e0 AS (
         SELECT user_id, event_type, count(*)::BIGINT AS w
         FROM events GROUP BY user_id, event_type),
       e AS (
         SELECT 'u:' || user_id::VARCHAR AS src, 't:' || event_type AS dst, w
         FROM e0
         UNION ALL
         SELECT 't:' || event_type, 'u:' || user_id::VARCHAR, w FROM e0),
       nodes AS (SELECT DISTINCT node FROM (
         SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       l0 AS (SELECT node, node AS label FROM nodes),
       s1 AS (
         SELECT e.dst AS n2, l.label, sum(e.w)::BIGINT AS tw
         FROM e JOIN l0 l ON l.node = e.src GROUP BY e.dst, l.label),
       b1 AS (
         SELECT n2 AS node, label FROM (
           SELECT n2, label,
                  row_number() OVER (PARTITION BY n2
                                     ORDER BY tw DESC, label ASC) AS rn
           FROM s1) WHERE rn = 1),
       l1 AS (
         SELECT n.node, coalesce(b1.label, n.node) AS label
         FROM nodes n LEFT JOIN b1 ON b1.node = n.node),
       s2 AS (
         SELECT e.dst AS n2, l.label, sum(e.w)::BIGINT AS tw
         FROM e JOIN l1 l ON l.node = e.src GROUP BY e.dst, l.label),
       b2 AS (
         SELECT n2 AS node, label FROM (
           SELECT n2, label,
                  row_number() OVER (PARTITION BY n2
                                     ORDER BY tw DESC, label ASC) AS rn
           FROM s2) WHERE rn = 1),
       l2 AS (
         SELECT n.node, coalesce(b2.label, n.node) AS label
         FROM nodes n LEFT JOIN b2 ON b2.node = n.node)
       SELECT label AS community, count(*)::BIGINT AS n_nodes,
              min(node) AS exemplar
       FROM l2 GROUP BY label""",
    doc="Community detection via synchronous label propagation (2 "
    "iterations) over the bipartite user <-> event-type interaction "
    "graph: every node adopts the label with the largest total incident "
    "edge weight among its neighbors, smallest-label tie-break — the "
    "DETERMINISTIC variant of LPA (textbook random tie-breaking is "
    "irreproducible; the fixed tie-break is what makes the unrolled SQL "
    "twin match bit-for-bit, integer weights and string labels, nothing "
    "floats). Output: per-community node count + exemplar. Scale shape: "
    "the iterative-template shape (PageRank/CC) — per iteration one "
    "label-onto-edges equi-join, one (node, label) weight aggregate, "
    "one per-node arg-max window bounded by distinct neighbor labels. "
    "(operators/graph.label_propagation_iterations)",
)
def q_graph_lpa(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import (
        label_propagation_iterations,
    )

    ev = events_table(spark, sf)
    e0 = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("w")
    )
    u = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    t = F.concat(F.lit("t:"), F.col("event_type"))
    edges = e0.select(u.alias("src"), t.alias("dst"), "w").unionAll(
        e0.select(t.alias("src"), u.alias("dst"), "w")
    )
    labels = label_propagation_iterations(edges, n_iters=2)
    return labels.groupBy("label").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("node").alias("exemplar"),
    ).select(F.col("label").alias("community"), "n_nodes", "exemplar")


@register(
    "events_markov_transitions",
    """WITH e AS (
         SELECT user_id, event_type AS state,
                floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       seq AS (
         SELECT user_id, state,
                lag(state) OVER (PARTITION BY user_id
                                 ORDER BY ts_s, event_id) AS prev
         FROM e),
       t AS (
         SELECT prev AS from_state, state AS to_state, count(*)::BIGINT AS n
         FROM seq WHERE prev IS NOT NULL GROUP BY prev, state),
       tot AS (SELECT from_state, sum(n)::BIGINT AS n_from FROM t
               GROUP BY from_state)
       SELECT t.from_state, t.to_state, t.n,
              round(t.n * 1.0 / tot.n_from, 6) AS p
       FROM t JOIN tot ON tot.from_state = t.from_state""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag each user's (ts, event_id)-ordered stream one step, "
    "count (from, to) transitions, row-normalize — the behavioral model "
    "behind next-action prediction, funnel leak diagnosis, and bot "
    "detection (uniform rows = scripted traffic). One user_id window "
    "shuffle + a states^2-bounded aggregate; integer counts with one "
    "rounded division, so the matrix is engine-exact. Total ordering "
    "via the (ts_s, event_id) tiebreak, same contract as "
    "scd2_dimension_build.",
)
def q_events_markov(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select(
        "user_id", F.col("event_type").alias("state"), "ts_s", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    seq = e.withColumn("prev", F.lag("state").over(w))
    t = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("from_state"), F.col("state").alias("to_state"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = t.groupBy("from_state").agg(F.sum("n").cast("long").alias("n_from"))
    return t.join(F.broadcast(tot), "from_state").select(
        "from_state", "to_state", "n",
        F.round(F.col("n") * 1.0 / F.col("n_from"), 6).alias("p"),
    )


@register(
    "privacy_l_diversity",
    """SELECT source, (n_chars // 100)::BIGINT AS chars_bucket,
              count(*)::BIGINT AS class_size,
              count(DISTINCT lang)::BIGINT AS n_sensitive,
              count(DISTINCT lang) >= 3 AS diverse_l3
       FROM documents GROUP BY 1, 2""",
    doc="l-diversity audit — the companion gate to privacy_k_anonymity "
    "(k-anonymity alone fails to the homogeneity attack: a class where "
    "every member shares the sensitive value re-identifies the value "
    "even without re-identifying the row): per quasi-identifier class "
    "(source, coarse length bucket), the number of DISTINCT sensitive "
    "values (lang as the stand-in sensitive attribute) and an l>=3 "
    "diversity flag. One scan-fused aggregate with a distinct count "
    "per class (two-phase partial distinct at scale); class list "
    "bounded by the QI domain.",
)
def q_privacy_l_diversity(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "documents")
        .groupBy(
            "source",
            F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("chars_bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("class_size"),
            F.count_distinct("lang").cast("long").alias("n_sensitive"),
        )
        .select(
            "source", "chars_bucket", "class_size", "n_sensitive",
            (F.col("n_sensitive") >= 3).alias("diverse_l3"),
        )
    )


@register(
    "timeseries_linear_trend",
    """WITH e AS (
         SELECT event_type,
                floor(epoch(ts))::BIGINT AS x,
                round(value * 10000)::BIGINT AS y
         FROM events),
       b AS (SELECT event_type, min(x)::BIGINT AS x0 FROM e GROUP BY event_type),
       m AS (
         SELECT e.event_type, count(*)::BIGINT AS n,
                sum(e.x - b.x0)::BIGINT AS sx,
                sum(e.y)::BIGINT AS sy,
                sum((e.x - b.x0) * (e.x - b.x0))::DECIMAL(38,0) AS sxx,
                sum((e.x - b.x0) * e.y)::DECIMAL(38,0) AS sxy,
                sum(e.y::DECIMAL(38,0) * e.y)::DECIMAL(38,0) AS syy
         FROM e JOIN b ON b.event_type = e.event_type
         GROUP BY e.event_type)
       SELECT event_type, n,
              round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 10)
                AS slope_e4_per_s,
              round((sy - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                           / (n * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * sx)) * sx) / n, 4)
                AS intercept_e4,
              round(CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                              = 0 THEN 0.0
                    ELSE (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                         * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                         / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                            * (n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * sy)) END, 6) AS r2
       FROM m""",
    doc="Grouped closed-form OLS: per event type, the least-squares "
    "slope/intercept/R^2 of (fixed-point value) against time — the "
    "metric-drift trend every monitoring pipeline fits (is this metric "
    "creeping up, and how much variance does time explain). The moment "
    "sums (n, Sx, Sy, Sxx, Sxy, Syy) are EXACT: values carry as "
    "integer 1e4 fixed-point, x is seconds offset from each group's "
    "min (re-centering keeps products inside DECIMAL(38) headroom), "
    "and all six moments are integer/decimal sums — order-free, so the "
    "only floats are the final closed-form divisions on identical "
    "operands (IEEE-identical across engines) with one rounding per "
    "output. Scale shape: one map-side-combinable moment aggregate "
    "(plus a tiny per-group min broadcast) — a single pass however "
    "large the series; degenerate variance guarded on both engines.",
)
def q_timeseries_linear_trend(spark: SparkSession, sf: str):
    e = events_table(spark, sf).select(
        "event_type",
        F.col("ts_s").alias("x"),
        F.round(F.col("value") * 10000).cast("long").alias("y"),
    )
    b = e.groupBy("event_type").agg(F.min("x").cast("long").alias("x0"))
    m = (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("x") - F.col("x0")).cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(
                (F.col("x") - F.col("x0")).cast("decimal(38,0)")
                * (F.col("x") - F.col("x0"))
            )
            .cast("decimal(38,0)")
            .alias("sxx"),
            F.sum(
                (F.col("x") - F.col("x0")).cast("decimal(38,0)") * F.col("y")
            )
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    dx = n * sxx - sx * F.col("sx")
    slope = (n * sxy - sx * sy) / dx
    dy = n * syy - sy.cast("double") * sy
    r2num = (n * sxy - sx * sy) * (n * sxy - sx * sy)
    return m.select(
        "event_type",
        "n",
        F.round(slope, 10).alias("slope_e4_per_s"),
        F.round((sy - slope * F.col("sx")) / n, 4).alias("intercept_e4"),
        F.round(
            F.when(dx * dy == 0, F.lit(0.0)).otherwise(r2num / (dx * dy)), 6
        ).alias("r2"),
    )


@register(
    "events_rfm_segmentation",
    """WITH e AS (
         SELECT user_id, floor(epoch(ts))::BIGINT AS ts_s,
                round(value * 10000)::BIGINT AS v_e4
         FROM events),
       mx AS (SELECT max(ts_s)::BIGINT AS t_max FROM e),
       u AS (
         SELECT user_id,
                max(ts_s)::BIGINT AS last_ts,
                count(*)::BIGINT AS frequency,
                sum(v_e4)::BIGINT AS monetary_e4
         FROM e GROUP BY user_id),
       scored AS (
         SELECT u.user_id,
                (mx.t_max - u.last_ts)::BIGINT AS recency_s,
                u.frequency, u.monetary_e4,
                ntile(5) OVER (ORDER BY (mx.t_max - u.last_ts) DESC,
                               u.user_id) AS r_score,
                ntile(5) OVER (ORDER BY u.frequency ASC, u.user_id) AS f_score,
                ntile(5) OVER (ORDER BY u.monetary_e4 ASC, u.user_id) AS m_score
         FROM u CROSS JOIN mx)
       SELECT (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm_segment,
              count(*)::BIGINT AS n_users,
              sum(recency_s)::BIGINT AS sum_recency_s,
              sum(frequency)::BIGINT AS sum_frequency,
              sum(monetary_e4)::BIGINT AS sum_monetary_e4
       FROM scored GROUP BY 1""",
    doc="RFM segmentation — the classic customer-value matrix: per user, "
    "recency (seconds behind the corpus max), frequency, and monetary "
    "total (1e4 fixed-point), each scored 1-5 by ntile quintile under a "
    "TOTAL order (metric + user_id tiebreak — what makes ntile "
    "deterministic and engine-portable; higher score = better, so "
    "recency sorts DESC), rolled up per 3-digit RFM segment with exact "
    "integer sums. Scale note: the three ntile windows are global by "
    "the operator's definition — at 100 TB quantile BOUNDARIES from "
    "percentile_approx + a scan-fused bucket join replace the exact "
    "global sort (the quantile_disc_certified sketch tier prices that "
    "substitution); the exact form here is the certified semantics.",
)
def q_events_rfm(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select(
        "user_id",
        F.col("ts_s"),
        F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
    )
    u = e.groupBy("user_id").agg(
        F.max("ts_s").cast("long").alias("last_ts"),
        F.count("*").cast("long").alias("frequency"),
        F.sum("v_e4").cast("long").alias("monetary_e4"),
    )
    mx = e.agg(F.max("ts_s").cast("long").alias("t_max"))
    scored = (
        u.crossJoin(F.broadcast(mx))
        .withColumn("recency_s", (F.col("t_max") - F.col("last_ts")).cast("long"))
        .withColumn(
            "r_score",
            F.ntile(5).over(
                Window.orderBy(F.col("recency_s").desc(), F.col("user_id"))
            ),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(
                Window.orderBy(F.col("frequency").asc(), F.col("user_id"))
            ),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(
                Window.orderBy(F.col("monetary_e4").asc(), F.col("user_id"))
            ),
        )
    )
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).cast("long").alias("rfm_segment")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("recency_s").cast("long").alias("sum_recency_s"),
            F.sum("frequency").cast("long").alias("sum_frequency"),
            F.sum("monetary_e4").cast("long").alias("sum_monetary_e4"),
        )
    )


# ---- Round-7 time-series statistics ------------------------------------------


@register(
    "timeseries_acf",
    f"""WITH {DAILY_CENTS_CTE},
       l AS (SELECT unnest(range(1, 6))::BIGINT AS lag),
       p AS (SELECT l.lag, a.x AS ya, b.x AS yb
             FROM d a CROSS JOIN l JOIN d b ON b.day = a.day + l.lag),
       m AS (SELECT lag, count(*)::BIGINT AS n,
                    sum(ya)::BIGINT AS sx, sum(yb)::BIGINT AS sy,
                    sum(ya::DECIMAL(38,0) * ya)::DECIMAL(38,0) AS sxx,
                    sum(yb::DECIMAL(38,0) * yb)::DECIMAL(38,0) AS syy,
                    sum(ya::DECIMAL(38,0) * yb)::DECIMAL(38,0) AS sxy
             FROM p GROUP BY lag)
       SELECT lag, n,
              round(CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                              <= 0 THEN 0.0
                    ELSE (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                         / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                                * (n * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE) * sy)) END, 6) AS acf
       FROM m""",
    doc="Autocorrelation function of the daily revenue series at lags "
    "1..5 — the seasonality/memory diagnostic behind every forecasting "
    "model choice (a weekly cycle shows as an acf spike at lag 7; near-"
    "zero acf says yesterday doesn't predict today). Each lag's acf is "
    "the Pearson correlation of (x_t, x_(t+k)) pairs computed from EXACT "
    "integer/decimal moment sums (the timeseries_linear_trend "
    "discipline): daily sums of cent-quantized values, lag pairing via "
    "an equi-join on day+k (never a window over the raw stream), and "
    "only the final closed-form divisions in floats — IEEE-identical on "
    "identical operands, one rounding per row. Scale shape: one "
    "map-side-combinable daily aggregate (bounded by the date domain, "
    "localCheckpoint'ed), a 5-way lag explode, and a self-equi-join on "
    "day — flat however large the event stream.",
)
def q_timeseries_acf(spark: SparkSession, sf: str):
    daily = daily_cents(spark, sf)
    a = daily.withColumn(
        "lag", F.explode(F.array(*[F.lit(k).cast("long") for k in range(1, 6)]))
    ).select("lag", (F.col("day") + F.col("lag")).alias("bday"), F.col("x").alias("ya"))
    b = daily.select(F.col("day").alias("bday"), F.col("x").alias("yb"))
    p = a.join(b, "bday")
    ya_d = F.col("ya").cast("decimal(38,0)")
    yb_d = F.col("yb").cast("decimal(38,0)")
    m = p.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ya").cast("long").alias("sx"),
        F.sum("yb").cast("long").alias("sy"),
        F.sum(ya_d * F.col("ya")).cast("decimal(38,0)").alias("sxx"),
        F.sum(yb_d * F.col("yb")).cast("decimal(38,0)").alias("syy"),
        F.sum(ya_d * F.col("yb")).cast("decimal(38,0)").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    dx = n * sxx - sx * F.col("sx")
    dy = n * syy - sy.cast("double") * sy
    num = n * sxy - sx * sy
    return m.select(
        "lag",
        "n",
        F.round(
            F.when(dx * dy <= 0, F.lit(0.0)).otherwise(num / F.sqrt(dx * dy)), 6
        ).alias("acf"),
    )


@register(
    "stats_theil_sen_slope",
    """WITH mo AS (
         SELECT (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS m,
                sum(round(o_totalprice * 100))::BIGINT AS y
         FROM orders GROUP BY 1),
       pr AS (SELECT a.m AS m1, b.m AS m2,
                     (b.y - a.y) * 1.0 / (b.m - a.m) AS slope
              FROM mo a JOIN mo b ON b.m > a.m),
       pr2 AS (SELECT slope,
                      row_number() OVER (ORDER BY slope, m1, m2) AS rn,
                      count(*) OVER () AS np
               FROM pr),
       ms AS (SELECT (min(slope) + max(slope)) / 2.0 AS med_slope,
                     max(np)::BIGINT AS n_pairs
              FROM pr2 WHERE rn IN ((np + 1) // 2, (np + 2) // 2)),
       ic AS (SELECT mo.m, mo.y - ms.med_slope * mo.m AS i,
                     ms.med_slope, ms.n_pairs
              FROM mo, ms),
       ic2 AS (SELECT i, med_slope, n_pairs,
                      row_number() OVER (ORDER BY i, m) AS rn,
                      count(*) OVER () AS np
               FROM ic)
       SELECT max(np)::BIGINT AS n_points, max(n_pairs)::BIGINT AS n_pairs,
              round(max(med_slope), 6) AS sen_slope,
              round((min(i) + max(i)) / 2.0, 4) AS sen_intercept
       FROM ic2 WHERE rn IN ((np + 1) // 2, (np + 2) // 2)""",
    doc="Theil-Sen robust trend fit of monthly revenue: the median of all "
    "pairwise slopes (and the median intercept at that slope) — the "
    "outlier-resistant companion to timeseries_linear_trend's OLS (one "
    "corrupted month moves OLS arbitrarily; Theil-Sen tolerates ~29% "
    "contamination). The pair set is bounded by the DATE DOMAIN "
    "(months^2 / 2 — a constant, not a function of row count), so the "
    "exact rank-median over pairs is safe; the monthly rollup itself is "
    "one map-side-combinable aggregate, localCheckpoint'ed before the "
    "self-join. Slopes are single IEEE divisions of exact integer "
    "diffs; the median of an even count averages the two middle values "
    "((min+max)/2 of the two selected ranks — permutation-stable under "
    "ties); one rounding per output.",
)
def q_stats_theil_sen(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    mo = (
        table(spark, sf, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("m")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("y"))
        .transform(ckpt)
    )
    a = mo.select(F.col("m").alias("m1"), F.col("y").alias("y1"))
    b = mo.select(F.col("m").alias("m2"), F.col("y").alias("y2"))
    pr = a.join(b, F.col("m2") > F.col("m1")).select(
        "m1",
        "m2",
        ((F.col("y2") - F.col("y1")) * 1.0 / (F.col("m2") - F.col("m1"))).alias(
            "slope"
        ),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pr2 = pr.select(
        "slope",
        F.row_number().over(Window.orderBy("slope", "m1", "m2")).alias("rn"),
        F.count("*").over(w_all).alias("np"),
    )
    ms = pr2.filter(
        F.expr("rn IN ((np + 1) DIV 2, (np + 2) DIV 2)")
    ).agg(
        ((F.min("slope") + F.max("slope")) / 2.0).alias("med_slope"),
        F.max("np").cast("long").alias("n_pairs"),
    )
    ic = mo.crossJoin(F.broadcast(ms)).select(
        "m",
        (F.col("y") - F.col("med_slope") * F.col("m")).alias("i"),
        "med_slope",
        "n_pairs",
    )
    ic2 = ic.select(
        "i",
        "med_slope",
        "n_pairs",
        F.row_number().over(Window.orderBy("i", "m")).alias("rn"),
        F.count("*").over(w_all).alias("np"),
    )
    return ic2.filter(F.expr("rn IN ((np + 1) DIV 2, (np + 2) DIV 2)")).agg(
        F.max("np").cast("long").alias("n_points"),
        F.max("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.max("med_slope"), 6).alias("sen_slope"),
        F.round((F.min("i") + F.max("i")) / 2.0, 4).alias("sen_intercept"),
    )


@register(
    "privacy_t_closeness",
    """WITH cl AS (
         SELECT source, (n_chars // 100)::BIGINT AS b, lang,
                count(*)::BIGINT AS c
         FROM documents GROUP BY 1, 2, 3),
       ct AS (SELECT source, b, sum(c)::BIGINT AS n_class
              FROM cl GROUP BY 1, 2),
       g AS (SELECT lang, sum(c)::BIGINT AS gl FROM cl GROUP BY 1),
       t AS (SELECT sum(c)::BIGINT AS n_total FROM cl),
       f AS (SELECT ct.source, ct.b, ct.n_class, g.lang, g.gl, t.n_total
             FROM ct CROSS JOIN g CROSS JOIN t),
       j AS (SELECT f.source, f.b, f.n_class, f.n_total,
                    abs(coalesce(cl.c, 0) * f.n_total
                        - f.gl * f.n_class)::BIGINT AS dev
             FROM f LEFT JOIN cl ON cl.source = f.source AND cl.b = f.b
                                AND cl.lang = f.lang),
       a AS (SELECT source, b, n_class, n_total, sum(dev)::BIGINT AS tvd_num
             FROM j GROUP BY 1, 2, 3, 4)
       SELECT source, b AS chars_bucket, n_class, tvd_num,
              round(tvd_num / (2.0 * n_class * n_total), 6) AS tvd,
              (tvd_num / (2.0 * n_class * n_total)) <= 0.2 AS close_t20
       FROM a""",
    doc="t-closeness audit — the third privacy gate, closing the "
    "k-anonymity (class size) -> l-diversity (distinct sensitive "
    "values) -> t-closeness (distribution distance) ladder: l-diversity "
    "still leaks under the skewness attack (a class can hold 3 distinct "
    "langs at 98/1/1 while the corpus is uniform), so per QI class "
    "(source, coarse length bucket) this emits the TOTAL VARIATION "
    "DISTANCE between the class's sensitive-attribute (lang) "
    "distribution and the corpus-wide one, plus the t <= 0.2 release "
    "flag. EXACT integer core: TVD = sum |c_lang*N - g_lang*n_class| / "
    "(2*n_class*N) — the numerator never leaves integers (missing "
    "langs contribute |0 - g*n| via the bounded class x lang domain "
    "cross), one shared-tree division per output. Scale shape: ONE "
    "corpus scan into a (QI x lang)-bounded count table "
    "(localCheckpoint'ed); every later branch (class totals, global "
    "marginals, grand total, domain cross) reuses that tiny frame.",
)
def q_privacy_t_closeness(spark: SparkSession, sf: str):
    cl = (
        table(spark, sf, "documents")
        .groupBy(
            "source",
            F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("b"),
            "lang",
        )
        .agg(F.count("*").cast("long").alias("c"))
        .transform(ckpt)
    )
    ct = cl.groupBy("source", "b").agg(F.sum("c").cast("long").alias("n_class"))
    g = cl.groupBy("lang").agg(F.sum("c").cast("long").alias("gl"))
    t = cl.agg(F.sum("c").cast("long").alias("n_total"))
    f = ct.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(t))
    j = f.join(cl, ["source", "b", "lang"], "left").select(
        "source",
        "b",
        "n_class",
        "n_total",
        F.abs(
            F.coalesce(F.col("c"), F.lit(0)) * F.col("n_total")
            - F.col("gl") * F.col("n_class")
        )
        .cast("long")
        .alias("dev"),
    )
    a = j.groupBy("source", "b", "n_class", "n_total").agg(
        F.sum("dev").cast("long").alias("tvd_num")
    )
    tvd = F.col("tvd_num") / (2.0 * F.col("n_class") * F.col("n_total"))
    return a.select(
        "source",
        F.col("b").alias("chars_bucket"),
        "n_class",
        "tvd_num",
        F.round(tvd, 6).alias("tvd"),
        (tvd <= 0.2).alias("close_t20"),
    )


@register(
    "survival_kaplan_meier",
    """WITH e AS (
         SELECT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                event_type, value
         FROM events),
       u AS (SELECT user_id, min(day) AS f, max(day) AS l
             FROM e GROUP BY 1),
       conv AS (SELECT user_id, min(day) AS cd FROM e
                WHERE event_type = 'purchase' AND value >= 150 GROUP BY 1),
       lt AS (SELECT CASE WHEN c.cd IS NOT NULL THEN c.cd - u.f
                          ELSE u.l - u.f END::BIGINT AS t,
                     CASE WHEN c.cd IS NOT NULL THEN 1 ELSE 0 END AS obs
              FROM u LEFT JOIN conv c USING (user_id)),
       pt AS (SELECT t, count(*)::BIGINT AS n_at, sum(obs)::BIGINT AS d
              FROM lt GROUP BY t),
       r AS (SELECT t, d,
                    (sum(n_at) OVER ()
                     - coalesce(sum(n_at) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0))::BIGINT AS n_risk
             FROM pt),
       dd AS (SELECT t, d, n_risk,
                     CASE WHEN d < n_risk
                          THEN round(ln((n_risk - d) * 1.0 / n_risk), 9)
                               ::DECIMAL(20,9) END AS term
              FROM r WHERE d > 0),
       s AS (SELECT t, d, n_risk,
                    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w AS zf,
                    sum(term) OVER w AS cum
             FROM dd WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
       SELECT t AS lifetime_days, n_risk, d AS n_deaths,
              CASE WHEN zf = 1 THEN 0.0
                   ELSE round(exp(CAST(cum AS DOUBLE)), 6) END AS survival
       FROM s""",
    doc="Kaplan-Meier time-to-conversion curve — P[user has NOT yet made "
    "a big purchase (value >= 150) t days after their first event] with "
    "RIGHT-CENSORING handled correctly: a user with no qualifying "
    "purchase is censored at their last observed day (still at risk, "
    "not a non-converter), which naive conversion-time averages get "
    "wrong. S(t) = prod_{s<=t} (1 - "
    "d_s/n_s); the product is computed as a DECIMAL(20,9) running sum "
    "of 9-dp-rounded ln factors then one exp (the lm_perplexity_scores "
    "float discipline — order-free and IEEE-identical), with the "
    "risk-set-exhausted (d = n) step pinned to exactly 0. Scale shape: "
    "two per-user rollups joined on the user key, then "
    "every window runs over the LIFETIME-DOMAIN table (days, bounded "
    "by the date span) — never over users or events.",
)
def q_survival_kaplan_meier(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ev = events_table(spark, sf).select(
        "user_id",
        F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"),
        "event_type",
        "value",
    )
    u = ev.groupBy("user_id").agg(
        F.min("day").alias("f"), F.max("day").alias("l")
    )
    conv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .groupBy("user_id")
        .agg(F.min("day").alias("cd"))
    )
    lt = u.join(conv, "user_id", "left").select(
        F.when(F.col("cd").isNotNull(), F.col("cd") - F.col("f"))
        .otherwise(F.col("l") - F.col("f"))
        .cast("long")
        .alias("t"),
        F.when(F.col("cd").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    pt = lt.groupBy("t").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("obs").cast("long").alias("d"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cb = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = pt.select(
        "t",
        "d",
        (
            F.sum("n_at").over(w_all)
            - F.coalesce(F.sum("n_at").over(w_cb), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    dd = r.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log((F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")), 9
            ).cast("decimal(20,9)"),
        ).alias("term"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    s = dd.select(
        "t",
        "d",
        "n_risk",
        F.max(
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
        ).over(w_cum).alias("zf"),
        F.sum("term").over(w_cum).alias("cum"),
    )
    return s.select(
        F.col("t").alias("lifetime_days"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        F.when(F.col("zf") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum").cast("double")), 6))
        .alias("survival"),
    )


@register(
    "events_changepoint_cusum",
    f"""WITH {DAILY_CENTS_CTE},
       c AS (SELECT day,
                    row_number() OVER (ORDER BY day) AS t,
                    sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                      ::BIGINT AS cum,
                    count(*) OVER ()::BIGINT AS n,
                    sum(x) OVER ()::BIGINT AS gx
             FROM d),
       s AS (SELECT day, t, n,
                    abs(n * cum - t * gx)::BIGINT AS dev
             FROM c)
       SELECT n AS n_days, day AS cp_day, t AS cp_index,
              round(dev * 1.0 / n, 4) AS max_dev_cents
       FROM s ORDER BY dev DESC, day ASC LIMIT 1""",
    doc="CUSUM changepoint detection on the daily revenue series — the "
    "level-shift locator behind metric drift alerts (where did the mean "
    "move?): the classic mean-centered cumulative sum S_t = "
    "sum_{i<=t}(x_i - xbar) is computed EXACTLY as the integer "
    "D_t = n*cum_t - t*sum(x) (scaling by n avoids the rational mean — "
    "no float accumulates), and the changepoint is argmax |D_t| with a "
    "deterministic day tiebreak; the emitted magnitude |D|/n is the "
    "centered cumulative deviation in cents at the break. Scale shape: "
    "one map-side-combinable daily rollup (localCheckpoint'ed), windows "
    "only over the DATE-DOMAIN table, TakeOrdered(1) for the argmax.",
)
def q_events_cusum(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = daily_cents(spark, sf)
    w_ord = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = d.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("x").over(w_ord).cast("long").alias("cum"),
        F.count("*").over(w_all).cast("long").alias("n"),
        F.sum("x").over(w_all).cast("long").alias("gx"),
    )
    s = c.select(
        "day",
        "t",
        "n",
        F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("gx"))
        .cast("long")
        .alias("dev"),
    )
    return (
        s.orderBy(F.desc("dev"), F.asc("day"))
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            F.col("day").alias("cp_day"),
            F.col("t").alias("cp_index"),
            F.round(F.col("dev") * 1.0 / F.col("n"), 4).alias("max_dev_cents"),
        )
    )


@register(
    "timeseries_seasonal_decompose",
    f"""WITH {DAILY_CENTS_CTE},
       p AS (SELECT (day % 7)::BIGINT AS dow, count(*)::BIGINT AS n_days,
                    sum(x)::BIGINT AS s FROM d GROUP BY 1),
       g AS (SELECT sum(n_days)::BIGINT AS n, sum(s)::BIGINT AS gs FROM p)
       SELECT p.dow, p.n_days,
              round(p.s * 1.0 / p.n_days, 4) AS mean_cents,
              round((p.s * 1.0 / p.n_days) / (g.gs * 1.0 / g.n), 6)
                AS seasonal_index
       FROM p, g""",
    doc="Weekly seasonal decomposition of daily revenue — the seasonal-"
    "index table a forecaster divides out before trend fitting (and the "
    "direct reading of timeseries_acf's lag-7 signal): days bucket by "
    "epoch-day mod 7 (a stable 7-phase cycle — phase 0 is not anchored "
    "to a weekday name, which needs no timezone calendar), each phase "
    "emits its exact mean daily revenue and its index vs the grand "
    "daily mean. Integer cents sums throughout; the two divisions share "
    "one expression tree (one rounding each). Scale shape: one map-"
    "side-combinable daily rollup (localCheckpoint'ed), a 7-row phase "
    "aggregate, a 1-row grand-total broadcast.",
)
def q_timeseries_seasonal(spark: SparkSession, sf: str):
    d = daily_cents(spark, sf)
    p = d.groupBy((F.col("day") % 7).cast("long").alias("dow")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("s"),
    ).transform(ckpt)
    g = p.agg(
        F.sum("n_days").cast("long").alias("n"),
        F.sum("s").cast("long").alias("gs"),
    )
    j = p.crossJoin(F.broadcast(g))
    mean_d = F.col("s") * 1.0 / F.col("n_days")
    mean_g = F.col("gs") * 1.0 / F.col("n")
    return j.select(
        "dow",
        "n_days",
        F.round(mean_d, 4).alias("mean_cents"),
        F.round(mean_d / mean_g, 6).alias("seasonal_index"),
    )


@register(
    "graph_common_neighbor_scores",
    None,  # oracle assembled below (reuses the MinHash band-pair CTE)
    doc="Common-neighbor link prediction over the MinHash-LSH candidate "
    "graph: for every NON-adjacent doc pair sharing at least one "
    "neighbor, the common-neighbor count and the neighborhood-Jaccard "
    "score cn/(deg_u + deg_v - cn) — the 'these two near-dup clusters "
    "are probably one entity' signal an ER reviewer triages (the "
    "missing-edge complement of the certified clustering stack). Scale "
    "shape: the edge list is built ONCE (banded LSH candidates, "
    "localCheckpoint'ed — the blast-radius discipline), wedges come "
    "from one self-equi-join on the shared endpoint with a degree-16 "
    "hub cap (the super-node exclusion: an uncapped hub contributes "
    "deg^2/2 noise pairs) and a cn >= 2 floor, adjacency is removed "
    "with a broadcast-able anti-join, and degrees join back from a "
    "map-side-combinable count. Exact integers + one rounded division.",
)
def q_graph_common_neighbors(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # 8 single-seed bands (vs the dedup tier's 4x2): the deliberately
    # NOISIER candidate graph a link-prediction pass wants — partial
    # signature agreement creates open wedges (A~B, B~C, A!~C) for the
    # scorer to rank, where the high-precision 4x2 banding yields near-
    # cliques only
    pairs = (
        lsh_candidate_pairs(
            lsh_band_keys(
                minhash_signatures(table(spark, sf, "documents")),
                rows_per_band=1,
            )
        )
        .select("doc_a", "doc_b")
        .transform(ckpt)
    )
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    # hub cap: wedges only pivot through LOW-degree shared endpoints
    # (deg <= 16) — the standard super-node exclusion that keeps the
    # wedge join near-linear (a hub of degree d else contributes d^2/2
    # candidate pairs of mostly-noise); scored pairs need cn >= 2
    low = deg.filter(F.col("deg") <= 16).select(F.col("u").alias("w"))
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("w")).join(low, "w")
    e2 = und.select(F.col("u").alias("w"), F.col("v").alias("b")).join(low, "w")
    wedges = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    cand = wedges.join(
        pairs,
        (wedges["a"] == pairs["doc_a"]) & (wedges["b"] == pairs["doc_b"]),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    j = cand.join(da, "a").join(db, "b")
    return j.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        "cn",
        "deg_a",
        "deg_b",
        F.round(
            F.col("cn") * 1.0
            / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
            6,
        ).alias("jaccard_score"),
    )


def _common_neighbor_oracle() -> str:
    from annotations_ingester_spark.plans.queries_scale import SIG_CTE

    return f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       und AS (
         SELECT doc_a AS u, doc_b AS v FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY u),
       low AS (SELECT u AS w FROM deg WHERE deg <= 16),
       wedges AS (
         SELECT e1.u AS a, e2.v AS b, count(*)::BIGINT AS cn
         FROM und e1 JOIN low l1 ON l1.w = e1.v
              JOIN und e2 ON e1.v = e2.u
         WHERE e1.u < e2.v GROUP BY 1, 2
         HAVING count(*) >= 2),
       cand AS (
         SELECT w.* FROM wedges w
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.doc_a = w.a AND p.doc_b = w.b))
       SELECT cand.a AS doc_a, cand.b AS doc_b, cand.cn,
              da.deg AS deg_a, db.deg AS deg_b,
              round(cand.cn * 1.0 / (da.deg + db.deg - cand.cn), 6)
                AS jaccard_score
       FROM cand JOIN deg da ON da.u = cand.a JOIN deg db ON db.u = cand.b"""


_REG["graph_common_neighbor_scores"].oracle = _common_neighbor_oracle()


@register(
    "forecast_backtest_mae",
    f"""WITH {DAILY_CENTS_CTE},
       mx AS (SELECT max(day) AS mxd FROM d),
       ev AS (SELECT d.day, d.x FROM d, mx WHERE d.day >= mx.mxd - 27),
       nv AS (SELECT count(*)::BIGINT AS n_naive,
                     sum(abs(ev.x - p.x))::BIGINT AS s_naive
              FROM ev JOIN d p ON p.day = ev.day - 1),
       sv AS (SELECT count(*)::BIGINT AS n_seasonal,
                     sum(abs(ev.x - p.x))::BIGINT AS s_seasonal
              FROM ev JOIN d p ON p.day = ev.day - 7)
       SELECT nv.n_naive, sv.n_seasonal,
              round(nv.s_naive * 1.0 / nv.n_naive, 4) AS mae_naive_cents,
              round(sv.s_seasonal * 1.0 / sv.n_seasonal, 4)
                AS mae_seasonal_cents,
              round((nv.s_naive * 1.0 / nv.n_naive
                     - sv.s_seasonal * 1.0 / sv.n_seasonal)
                    / (nv.s_naive * 1.0 / nv.n_naive), 6) AS improvement
       FROM nv, sv""",
    doc="Walk-forward forecast backtest — the model-selection loop every "
    "metric-forecasting pipeline runs before trusting a seasonal model: "
    "over the last 28 observed days, score the naive forecast (x_(d-1)) "
    "against the seasonal-naive (x_(d-7)) by mean absolute error, plus "
    "the relative improvement — a positive value says the weekly cycle "
    "(timeseries_acf / seasonal_decompose's signal) transfers to actual "
    "held-out accuracy. EXACT integer error sums (cents); the MAE and "
    "improvement divisions share one IEEE tree, one rounding each. "
    "Scale shape: one map-side-combinable daily rollup "
    "(localCheckpoint'ed), a 1-row horizon broadcast, two lag "
    "equi-joins on the date-domain table, two 1-row aggregates.",
)
def q_forecast_backtest(spark: SparkSession, sf: str):
    d = daily_cents(spark, sf)
    mx = d.agg(F.max("day").alias("mxd"))
    ev = d.crossJoin(F.broadcast(mx)).filter(
        F.col("day") >= F.col("mxd") - 27
    ).select("day", "x")

    def mae_side(lag: int, n_name: str, s_name: str):
        p = d.select((F.col("day") + lag).alias("day"), F.col("x").alias("px"))
        return ev.join(p, "day").agg(
            F.count("*").cast("long").alias(n_name),
            F.sum(F.abs(F.col("x") - F.col("px"))).cast("long").alias(s_name),
        )

    nv = mae_side(1, "n_naive", "s_naive")
    sv = mae_side(7, "n_seasonal", "s_seasonal")
    j = nv.crossJoin(F.broadcast(sv))
    mn = F.col("s_naive") * 1.0 / F.col("n_naive")
    ms = F.col("s_seasonal") * 1.0 / F.col("n_seasonal")
    return j.select(
        "n_naive",
        "n_seasonal",
        F.round(mn, 4).alias("mae_naive_cents"),
        F.round(ms, 4).alias("mae_seasonal_cents"),
        F.round((mn - ms) / mn, 6).alias("improvement"),
    )


@register(
    "stats_kendall_tau",
    f"""WITH {DAILY_TYPE_COUNTS_CTE},
       p AS (SELECT count(*)::BIGINT AS n_pairs,
                    sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                              OR (a.x > b.x AND a.y > b.y)
                         THEN 1 ELSE 0 END)::BIGINT AS c,
                    sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                              OR (a.x > b.x AND a.y < b.y)
                         THEN 1 ELSE 0 END)::BIGINT AS dsc
             FROM d a JOIN d b ON a.day < b.day),
       tx AS (SELECT sum(k * (k - 1) / 2)::BIGINT AS n1
              FROM (SELECT count(*)::BIGINT AS k FROM d GROUP BY x)),
       ty AS (SELECT sum(k * (k - 1) / 2)::BIGINT AS n2
              FROM (SELECT count(*)::BIGINT AS k FROM d GROUP BY y))
       SELECT p.n_pairs, p.c AS concordant, p.dsc AS discordant,
              tx.n1 AS ties_x, ty.n2 AS ties_y,
              round(CASE WHEN (p.n_pairs - tx.n1) * (p.n_pairs - ty.n2) <= 0
                         THEN 0.0
                         ELSE (p.c - p.dsc)
                              / sqrt((p.n_pairs - tx.n1) * 1.0
                                     * (p.n_pairs - ty.n2)) END, 6)
                AS kendall_tau_b
       FROM p, tx, ty""",
    doc="Kendall tau-b rank correlation between daily click and purchase "
    "volumes — completing the correlation trio (Pearson moments in the "
    "OLS/ACF family, Spearman's rank rho, and now the pair-concordance "
    "view, whose tau-b tie correction stays honest on count data full "
    "of equal days): concordant/discordant/tie counts are EXACT "
    "integers from one self-join over the DATE-DOMAIN daily rollup "
    "(months^2-class pair set — a constant in row count, the Theil-Sen "
    "boundedness argument), and tau_b = (C - D)/sqrt((n0-n1)(n0-n2)) "
    "is one shared sqrt tree. Scale shape: daily rollup "
    "(localCheckpoint'ed) -> bounded pair join + two tiny tie "
    "aggregates -> 1-row assembly.",
)
def q_stats_kendall(spark: SparkSession, sf: str):
    d = daily_type_counts(spark, sf)
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    conc = ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb"))) | (
        (F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))
    )
    disc = ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb"))) | (
        (F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))
    )
    p = a.join(b, F.col("da") < F.col("db")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(conc, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("dsc"),
    )

    def ties(col: str, out: str):
        return (
            d.groupBy(col)
            .agg(F.count("*").cast("long").alias("k"))
            .agg(
                F.sum(F.col("k") * (F.col("k") - 1) / 2).cast("long").alias(out)
            )
        )

    j = (
        p.crossJoin(F.broadcast(ties("x", "n1")))
        .crossJoin(F.broadcast(ties("y", "n2")))
    )
    denom = (F.col("n_pairs") - F.col("n1")) * (F.col("n_pairs") - F.col("n2"))
    tau = (F.col("c") - F.col("dsc")) / F.sqrt(
        (F.col("n_pairs") - F.col("n1")) * 1.0 * (F.col("n_pairs") - F.col("n2"))
    )
    return j.select(
        "n_pairs",
        F.col("c").alias("concordant"),
        F.col("dsc").alias("discordant"),
        F.col("n1").alias("ties_x"),
        F.col("n2").alias("ties_y"),
        F.round(F.when(denom <= 0, F.lit(0.0)).otherwise(tau), 6).alias(
            "kendall_tau_b"
        ),
    )


@register(
    "orders_pareto_abc",
    """WITH c AS (
         SELECT o_custkey, sum(round(o_totalprice * 100))::BIGINT AS rev
         FROM orders GROUP BY o_custkey),
       b AS (SELECT o_custkey, rev, (rev // 1048576)::BIGINT AS bkt FROM c),
       ranked AS (
         SELECT o_custkey, rev, bkt,
                sum(rev) OVER (PARTITION BY bkt
                               ORDER BY rev DESC, o_custkey
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_in
         FROM b),
       bc AS (SELECT bkt, sum(rev)::BIGINT AS brev FROM b GROUP BY bkt),
       off AS (SELECT bkt,
                      coalesce(sum(brev) OVER (ORDER BY bkt DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0)::BIGINT AS o,
                      sum(brev) OVER ()::BIGINT AS total
               FROM bc),
       cum AS (SELECT r.o_custkey, r.rev,
                      (f.o + r.cum_in)::BIGINT AS cum_rev, f.total
               FROM ranked r JOIN off f USING (bkt)),
       cls AS (SELECT o_custkey, rev,
                      CASE WHEN cum_rev * 5 <= total * 4 THEN 'A'
                           WHEN cum_rev * 20 <= total * 19 THEN 'B'
                           ELSE 'C' END AS abc_class
               FROM cum)
       SELECT abc_class, count(*)::BIGINT AS n_customers,
              sum(rev)::BIGINT AS class_rev_cents
       FROM cls GROUP BY abc_class""",
    doc="Pareto/ABC customer-value classification (the 80/15/5 inventory-"
    "control rule applied to revenue concentration): customers sort by "
    "lifetime revenue descending, the running revenue share buckets them "
    "A (first 80% of revenue), B (next 15%), C (tail) — how top-heavy is "
    "the customer base, the twin question to RFM's per-user scores. "
    "EXACT integer core: cumulative shares compare as cum*5 <= total*4 "
    "and cum*20 <= total*19 (no float division anywhere), and the "
    "revenue-DESC running sum is the two-level distributed prefix sum "
    "over an order-preserving 2^20-cent revenue-bucket key (descending "
    "twin of the stats_ks_test/sharding machinery — in-bucket windows "
    "partitioned by bucket, a broadcast running offset over the tiny "
    "bucket table); per-customer rank ties break on custkey. Scale "
    "shape: one map-side-combinable per-customer rollup, bounded-domain "
    "windows, 3-row output.",
)
def q_orders_pareto_abc(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    c = (
        table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("rev"))
        .withColumn("bkt", F.expr("CAST(rev DIV 1048576 AS BIGINT)"))
        .transform(ckpt)
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("rev"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = c.withColumn("cum_in", F.sum("rev").over(w_in).cast("long"))
    bc = c.groupBy("bkt").agg(F.sum("rev").alias("brev"))
    w_off = Window.orderBy(F.desc("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off = bc.select(
        "bkt",
        F.coalesce(F.sum("brev").over(w_off), F.lit(0)).cast("long").alias("o"),
        F.sum("brev").over(w_all).cast("long").alias("total"),
    )
    cum = ranked.join(F.broadcast(off), "bkt").select(
        "o_custkey",
        "rev",
        (F.col("o") + F.col("cum_in")).cast("long").alias("cum_rev"),
        "total",
    )
    cls = cum.select(
        "o_custkey",
        "rev",
        F.when(F.col("cum_rev") * 5 <= F.col("total") * 4, "A")
        .when(F.col("cum_rev") * 20 <= F.col("total") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("rev").cast("long").alias("class_rev_cents"),
    )


@register(
    "stats_runs_test",
    f"""WITH {DAILY_CENTS_CTE},
       m AS (SELECT day, x,
                    lag(x) OVER (ORDER BY day) AS px
             FROM d),
       sgn AS (SELECT day,
                      CASE WHEN x > px THEN 1 ELSE 0 END AS up,
                      lag(CASE WHEN x > px THEN 1 ELSE 0 END)
                        OVER (ORDER BY day) AS pup
               FROM m WHERE px IS NOT NULL AND x <> px),
       agg AS (SELECT count(*)::BIGINT AS n,
                      sum(up)::BIGINT AS n_up,
                      (1 + sum(CASE WHEN pup IS NOT NULL AND up <> pup
                               THEN 1 ELSE 0 END))::BIGINT AS runs
               FROM sgn)
       SELECT n, n_up, (n - n_up)::BIGINT AS n_down, runs,
              round(CASE WHEN n <= 1 OR n_up = 0 OR n_up = n THEN 0.0
                    ELSE (runs - (2.0 * n_up * (n - n_up) / n + 1))
                         / sqrt((2.0 * n_up * (n - n_up)
                                 * (2.0 * n_up * (n - n_up) - n))
                                / (1.0 * n * n * (n - 1))) END, 4)
                AS z_score
       FROM agg""",
    doc="Wald-Wolfowitz runs test on daily revenue up/down moves — the "
    "randomness diagnostic completing the nonparametric set (KS for "
    "distribution, Mann-Whitney for location, Spearman/Kendall for "
    "association, runs for INDEPENDENCE: too few runs = trending, too "
    "many = oscillating): flat days drop (the classic tie handling), "
    "runs count via sign-change summation over the date-domain series, "
    "and the normal-approximation z uses the exact integer (n, n_up, "
    "runs) in one shared IEEE tree with degenerate guards. Windows "
    "only over the DATE-DOMAIN daily rollup.",
)
def q_stats_runs_test(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = daily_cents(spark, sf)
    w = Window.orderBy("day")
    m = d.select("day", "x", F.lag("x").over(w).alias("px"))
    up = F.when(F.col("x") > F.col("px"), 1).otherwise(0)
    sgn = (
        m.filter(F.col("px").isNotNull() & (F.col("x") != F.col("px")))
        .select("day", up.alias("up"))
        .select("day", "up", F.lag("up").over(w).alias("pup"))
    )
    agg = sgn.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("up").cast("long").alias("n_up"),
        (
            1
            + F.sum(
                F.when(
                    F.col("pup").isNotNull() & (F.col("up") != F.col("pup")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n, nu, r = F.col("n"), F.col("n_up"), F.col("runs")
    mu = 2.0 * nu * (n - nu) / n + 1
    sig2 = (2.0 * nu * (n - nu) * (2.0 * nu * (n - nu) - n)) / (
        1.0 * n * n * (n - 1)
    )
    return agg.select(
        "n",
        "n_up",
        (n - nu).cast("long").alias("n_down"),
        "runs",
        F.round(
            F.when((n <= 1) | (nu == 0) | (nu == n), F.lit(0.0)).otherwise(
                (r - mu) / F.sqrt(sig2)
            ),
            4,
        ).alias("z_score"),
    )


# ---- round-8 analytics additions -------------------------------------------
# k-core peeling over the LSH candidate graph, multi-touch attribution,
# conversion-path mining, and a sweep-line concurrency profile — the
# event-journey family on top of the existing sessionization/funnel stack.


def _k_core_oracle(k: int = 2, n_iters: int = 4) -> str:
    """Unrolled k-core peel: each round recomputes degrees over the
    surviving edge set and keeps nodes with deg >= k — the same PINNED
    round count as the Spark side (the pagerank-unroll discipline)."""
    # every CTE that is referenced twice per round is MATERIALIZED —
    # DuckDB otherwise inlines CTE references, re-running the minhash
    # band self-join O(4^rounds) times
    parts = [
        f"WITH {_lsh_edges_sql()},\n"
        "       ke0 AS MATERIALIZED (SELECT src, dst FROM e)"
    ]
    prev = "ke0"
    for i in range(n_iters):
        parts.append(
            f""",
       kd{i} AS (SELECT node, count(*)::BIGINT AS deg FROM (
                  SELECT src AS node FROM {prev}
                  UNION ALL SELECT dst AS node FROM {prev}) GROUP BY node),
       kn{i} AS MATERIALIZED (SELECT node FROM kd{i} WHERE deg >= {k}),
       ke{i + 1} AS MATERIALIZED (SELECT t.src, t.dst FROM {prev} t
                  JOIN kn{i} a ON t.src = a.node
                  JOIN kn{i} b ON t.dst = b.node)"""
        )
        prev = f"ke{i + 1}"
    parts.append(
        f"""
       SELECT node, count(*)::BIGINT AS deg FROM (
         SELECT src AS node FROM {prev}
         UNION ALL SELECT dst AS node FROM {prev}) GROUP BY node"""
    )
    return "".join(parts)


@register(
    "graph_k_core_peel",
    None,  # filled below (shares the lazily-built LSH edge CTE)
    doc="k-core decomposition (k=2, 4 pinned peel rounds) of the "
    "MinHash-LSH candidate graph — the densest-substructure health "
    "check over dedup output (2-core members sit in duplicate CLUSTERS; "
    "peeled-away nodes were isolated pair collisions, the noise the "
    "banding scheme tolerates). Each round is one map-side-combinable "
    "degree aggregate + two semi-joins, with the edge frame "
    "localCheckpoint'ed per round (flat lineage, the kmeans/pagerank "
    "discipline); degrees only shrink, so an early fixpoint makes later "
    "rounds no-ops. Scale shape: cost per round ~ |E|, never all-pairs; "
    "the iteration count is a pinned job parameter mirrored by the "
    "unrolled oracle.",
)
def q_graph_k_core(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import k_core_subgraph

    return k_core_subgraph(_lsh_edges(spark, sf), k=2, n_iters=4)


_REG["graph_k_core_peel"].oracle = _k_core_oracle(k=2, n_iters=4)


# shared SQL prelude: per-user ordered events with a purchase-path id
# (path_id = number of purchases STRICTLY BEFORE the row, so each
# purchase terminates the path that carries its id)
_PATHED_CTE = """ev AS (
         SELECT user_id, event_id, event_type,
                floor(epoch(ts))::BIGINT AS ts_s,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
         FROM events),
       pathed AS (
         SELECT user_id, event_id, event_type, ts_s, is_p,
                coalesce(sum(is_p) OVER (
                  PARTITION BY user_id ORDER BY ts_s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS path_id
         FROM ev)"""


def _pathed(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = events_table(spark, sf).select(
        "user_id",
        "event_id",
        "event_type",
        "ts_s",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    return ev.withColumn(
        "path_id", F.coalesce(F.sum("is_p").over(w), F.lit(0)).cast("long")
    )


@register(
    "events_attribution_credit",
    f"""WITH {_PATHED_CTE},
       flagged AS (
         SELECT user_id, path_id, event_id, event_type, ts_s, is_p,
                max(is_p) OVER (PARTITION BY user_id, path_id) AS conv
         FROM pathed),
       touch AS (
         SELECT user_id, path_id, event_id, event_type, ts_s
         FROM flagged WHERE is_p = 0 AND conv = 1),
       ranked AS (
         SELECT event_type,
                row_number() OVER (PARTITION BY user_id, path_id
                                   ORDER BY ts_s, event_id) AS rn_f,
                row_number() OVER (PARTITION BY user_id, path_id
                                   ORDER BY ts_s DESC, event_id DESC) AS rn_l,
                count(*) OVER (PARTITION BY user_id, path_id) AS n_t
         FROM touch)
       SELECT event_type AS channel,
              sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END)::BIGINT AS first_touch,
              sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END)::BIGINT AS last_touch,
              CAST(round(sum(round(1.0 / n_t, 9)::DECIMAL(20,9)), 6) AS DOUBLE)
                AS linear_credit,
              count(*)::BIGINT AS n_touches
       FROM ranked GROUP BY event_type""",
    doc="Multi-touch marketing attribution over purchase-terminated event "
    "paths: every non-purchase event in a CONVERTED path (path_id = "
    "purchases strictly before the row — a per-user running sum) is a "
    "touchpoint; channels (event types) earn first-touch and last-touch "
    "conversion counts plus linear credit 1/n_touches per touch. Linear "
    "terms round to 9 dp and sum as DECIMAL(20,9) (accumulation-order-"
    "exact), one final 6-dp rounding. Scale shape: one user_id shuffle "
    "for the path window, then ONE (user, path) shuffle serving the "
    "converted-path flag (max(is_p) over the path partition — no "
    "distinct + self-join round trip; the corpus is scanned once) and "
    "all three per-path ranks, into a channel-domain-bounded final "
    "aggregate.",
)
def q_events_attribution(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    pathed = _pathed(spark, sf)
    wp = Window.partitionBy("user_id", "path_id")
    touch = (
        pathed.withColumn("conv", F.max("is_p").over(wp))
        .filter((F.col("is_p") == 0) & (F.col("conv") == 1))
        .select("user_id", "path_id", "event_id", "event_type", "ts_s")
    )
    wf = wp.orderBy(F.asc("ts_s"), F.asc("event_id"))
    wl = wp.orderBy(F.desc("ts_s"), F.desc("event_id"))
    ranked = touch.select(
        "event_type",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wl).alias("rn_l"),
        F.count("*").over(wp).alias("n_t"),
    )
    return ranked.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum(F.when(F.col("rn_f") == 1, 1).otherwise(0)).cast("long").alias(
            "first_touch"
        ),
        F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0)).cast("long").alias(
            "last_touch"
        ),
        F.round(F.sum(F.round(1.0 / F.col("n_t"), 9).cast("decimal(20,9)")), 6)
        .cast("double")
        .alias("linear_credit"),
        F.count("*").cast("long").alias("n_touches"),
    )


@register(
    "events_top_paths",
    f"""WITH {_PATHED_CTE},
       rn AS (SELECT user_id, path_id, event_type, ts_s, event_id,
                     row_number() OVER (PARTITION BY user_id, path_id
                                        ORDER BY ts_s, event_id) AS rn
              FROM pathed),
       paths AS (
         SELECT user_id, path_id,
                string_agg(event_type, '>' ORDER BY ts_s, event_id)
                  FILTER (WHERE rn <= 8) AS path,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  ::BIGINT AS converted
         FROM rn GROUP BY user_id, path_id),
       agg AS (SELECT path, converted, count(*)::BIGINT AS n_paths
               FROM paths GROUP BY path, converted)
       SELECT path, converted, n_paths
       FROM agg ORDER BY n_paths DESC, path, converted LIMIT 20""",
    doc="Conversion-path mining: each purchase-terminated (or trailing "
    "unconverted) per-user path renders as its first 8 event types "
    "joined '>', and the 20 most frequent (path, converted) shapes "
    "surface — the journey-pattern table next to the step funnel. The "
    "truncation to 8 is per-path array arithmetic (sorted struct "
    "collect + slice), never a global sort; top-20 is "
    "TakeOrderedAndProject with a total (count DESC, path, converted) "
    "order. Scale shape: one user_id window shuffle + one (user, path) "
    "aggregate + a distinct-path-shape-bounded count.",
)
def q_events_top_paths(spark: SparkSession, sf: str):
    pathed = _pathed(spark, sf)
    paths = pathed.groupBy("user_id", "path_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts_s", "event_id", "event_type")
                        )
                    ),
                    lambda s: s.event_type,
                ),
                1,
                8,
            ),
        ).alias("path"),
        F.max("is_p").cast("long").alias("converted"),
    )
    agg = paths.groupBy("path", "converted").agg(
        F.count("*").cast("long").alias("n_paths")
    )
    return agg.orderBy(
        F.desc("n_paths"), F.asc("path"), F.asc("converted")
    ).limit(20)


# shared SQL prelude for the concurrency sweep: 30-min-gap sessions
# rendered as [start_s, end_s] intervals (the events_sessionization CTE
# with min/max instead of counts)
_SESS_IVL_CTE = """ev AS (
         SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_s FROM events),
       flagged AS (
         SELECT user_id, event_id, ts_s,
                CASE WHEN lag(ts_s) OVER w IS NULL
                          OR ts_s - lag(ts_s) OVER w > 1800
                     THEN 1 ELSE 0 END AS new_sess
         FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       sessed AS (
         SELECT user_id, ts_s,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
         FROM flagged),
       ivl AS (SELECT user_id, sid, min(ts_s)::BIGINT AS s,
                      max(ts_s)::BIGINT AS e
               FROM sessed GROUP BY user_id, sid)"""


@register(
    "events_concurrency_profile",
    f"""WITH {_SESS_IVL_CTE},
       bnd AS (
         SELECT s AS ts, 1 AS delta FROM ivl
         UNION ALL SELECT e + 1 AS ts, -1 AS delta FROM ivl),
       db AS (SELECT ts, delta, (ts // 86400)::BIGINT AS day FROM bnd),
       daily AS (
         SELECT day, sum(delta)::BIGINT AS day_delta,
                sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_starts,
                sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END)::BIGINT AS n_ends
         FROM db GROUP BY day),
       carry AS (
         SELECT day, n_starts, n_ends,
                coalesce(sum(day_delta) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS carry_in
         FROM daily),
       pref AS (
         SELECT day,
                sum(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC
                                 ROWS UNBOUNDED PRECEDING) AS p
         FROM db),
       mx AS (SELECT day, max(p)::BIGINT AS max_prefix FROM pref GROUP BY day)
       SELECT c.day, c.n_starts, c.n_ends, c.carry_in,
              (c.carry_in + greatest(m.max_prefix, 0))::BIGINT
                AS peak_concurrency
       FROM carry c JOIN mx m USING (day)
       ORDER BY c.day""",
    doc="Sweep-line concurrency profile: per day, the peak number of "
    "simultaneously-open 30-min-gap user sessions. Each session emits "
    "+1 at its start second and -1 one past its end (inclusive "
    "intervals; a session touching a boundary second still counts "
    "there), boundaries sort (ts, +1 before -1) so abutting sessions "
    "count as concurrent, and peak_d = carry_in + max(0, max in-day "
    "prefix) where carry_in is the cumulative boundary sum of all "
    "prior days — the two-level distributed prefix-sum discipline "
    "(in-day running sums partitioned by day; the only unpartitioned "
    "window runs over the ~30-row day table). Days with open sessions "
    "but zero boundaries are not emitted (both engines share the "
    "boundary-day domain). Within-tie ordering of equal (ts, delta) "
    "rows cannot move the max: prefixes are monotone inside an "
    "equal-delta run. Scale shape: one user_id session shuffle, one "
    "day-partitioned window, day-domain-bounded output.",
)
def q_events_concurrency(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ev = events_table(spark, sf).select("user_id", "event_id", "ts_s")
    wu = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gap = F.col("ts_s") - F.lag("ts_s").over(wu)
    flagged = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sessed = flagged.withColumn(
        "sid",
        F.sum("new_sess")
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    ivl = sessed.groupBy("user_id", "sid").agg(
        F.min("ts_s").cast("long").alias("s"), F.max("ts_s").cast("long").alias("e")
    )
    bnd = ivl.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionAll(
        ivl.select((F.col("e") + 1).alias("ts"), F.lit(-1).alias("delta"))
    )
    db = bnd.select(
        "ts", "delta", F.expr("CAST(ts DIV 86400 AS BIGINT)").alias("day")
    ).transform(ckpt)
    daily = db.groupBy("day").agg(
        F.sum("delta").cast("long").alias("day_delta"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_starts"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_ends"),
    )
    # running offset over the ~30-row day table (offset-table class)
    w_off = Window.orderBy(F.asc("day")).rowsBetween(Window.unboundedPreceding, -1)
    carry = daily.select(
        "day",
        "n_starts",
        "n_ends",
        F.coalesce(F.sum("day_delta").over(w_off), F.lit(0))
        .cast("long")
        .alias("carry_in"),
    )
    w_in = Window.partitionBy("day").orderBy(
        F.asc("ts"), F.desc("delta")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mx = (
        db.select("day", F.sum("delta").over(w_in).alias("p"))
        .groupBy("day")
        .agg(F.max("p").cast("long").alias("max_prefix"))
    )
    return (
        carry.join(mx, "day")
        .select(
            "day",
            "n_starts",
            "n_ends",
            "carry_in",
            (F.col("carry_in") + F.greatest(F.col("max_prefix"), F.lit(0)))
            .cast("long")
            .alias("peak_concurrency"),
        )
        .orderBy("day")
    )


@register(
    "er_fellegi_sunter_weights",
    """WITH b AS (
         SELECT c_custkey, c_name, c_mktsegment,
                c_acctbal >= 0 AS bal_sign,
                (floor(c_acctbal / 1000))::BIGINT AS bal_kb,
                c_nationkey, substr(c_name, 1, 15) AS pref
         FROM customer),
       pairs AS (
         SELECT levenshtein(a.c_name, b2.c_name) <= 2 AS matched,
                CASE WHEN a.c_mktsegment = b2.c_mktsegment
                     THEN 1 ELSE 0 END AS ag_seg,
                CASE WHEN a.bal_sign = b2.bal_sign THEN 1 ELSE 0 END AS ag_sign,
                CASE WHEN a.bal_kb = b2.bal_kb THEN 1 ELSE 0 END AS ag_kb
         FROM b a JOIN b b2
           ON a.c_nationkey = b2.c_nationkey AND a.pref = b2.pref
         WHERE a.c_custkey < b2.c_custkey),
       agg AS (
         SELECT sum(CASE WHEN matched THEN 1 ELSE 0 END)::BIGINT AS nm,
                sum(CASE WHEN NOT matched THEN 1 ELSE 0 END)::BIGINT AS nn,
                sum(CASE WHEN matched THEN ag_seg ELSE 0 END)::BIGINT AS am_seg,
                sum(CASE WHEN NOT matched THEN ag_seg ELSE 0 END)::BIGINT
                  AS an_seg,
                sum(CASE WHEN matched THEN ag_sign ELSE 0 END)::BIGINT
                  AS am_sign,
                sum(CASE WHEN NOT matched THEN ag_sign ELSE 0 END)::BIGINT
                  AS an_sign,
                sum(CASE WHEN matched THEN ag_kb ELSE 0 END)::BIGINT AS am_kb,
                sum(CASE WHEN NOT matched THEN ag_kb ELSE 0 END)::BIGINT
                  AS an_kb
         FROM pairs),
       stacked AS (
         SELECT 'mktsegment' AS field, nm, nn, am_seg AS am, an_seg AS an
           FROM agg
         UNION ALL SELECT 'acctbal_sign', nm, nn, am_sign, an_sign FROM agg
         UNION ALL SELECT 'acctbal_kbucket', nm, nn, am_kb, an_kb FROM agg)
       SELECT field, nm AS n_match, nn AS n_nonmatch,
              am AS n_agree_match, an AS n_agree_nonmatch,
              round(CAST(am AS DOUBLE) / nm, 6) AS m_rate,
              round(CAST(an AS DOUBLE) / nn, 6) AS u_rate,
              CASE WHEN am > 0 AND an > 0
                   THEN round(log2(CAST(am AS DOUBLE) * nn
                                   / (CAST(an AS DOUBLE) * nm)), 4)
              END AS log2_weight
       FROM stacked ORDER BY field""",
    doc="Fellegi-Sunter agreement weights estimated on the blocked "
    "candidate set: pairs sharing (nation, 15-char name prefix) are "
    "labeled matched by the edit-distance verifier (lev <= 2 — the "
    "er_blocked_name_matches rule), and each comparison field earns "
    "m = P(agree|match), u = P(agree|non-match) and the linkage weight "
    "log2(m/u) — the score a probabilistic record-linkage pass adds "
    "per agreeing field. The weight computes as ONE log over "
    "cross-multiplied exact integer counts (am*nn / an*nm), never a "
    "ratio of rounded rates; degenerate fields (zero agreements on "
    "either side) emit NULL. Scale shape: the same Σblock² candidate "
    "equi-join as the ER verifier feeding one scan-fused aggregate, "
    "then a zero-shuffle 3-row stack.",
)
def q_er_fs_weights(spark: SparkSession, sf: str):
    b = table(spark, sf, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        (F.col("c_acctbal") >= 0).alias("bal_sign"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
        "c_nationkey",
        F.substring("c_name", 1, 15).alias("pref"),
    )
    left = b.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("na"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("bal_sign").alias("sign_a"),
        F.col("bal_kb").alias("kb_a"),
        "c_nationkey",
        "pref",
    )
    right = b.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("nb"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("bal_sign").alias("sign_b"),
        F.col("bal_kb").alias("kb_b"),
        "c_nationkey",
        "pref",
    )
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    pairs = (
        left.join(right, ["c_nationkey", "pref"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            # bounded form (threshold arg): exact distance inside the
            # bound, -1 past it — between(0, 2) is the identical boolean
            # at a fraction of the DP cost (see operators/linkage.py)
            F.levenshtein("na", "nb", 2).between(0, 2).alias("matched"),
            flag(F.col("seg_a") == F.col("seg_b")).alias("ag_seg"),
            flag(F.col("sign_a") == F.col("sign_b")).alias("ag_sign"),
            flag(F.col("kb_a") == F.col("kb_b")).alias("ag_kb"),
        )
    )
    cnt = lambda cond, c: F.sum(F.when(cond, c).otherwise(0)).cast("long")  # noqa: E731
    agg = pairs.agg(
        cnt(F.col("matched"), F.lit(1)).alias("nm"),
        cnt(~F.col("matched"), F.lit(1)).alias("nn"),
        cnt(F.col("matched"), F.col("ag_seg")).alias("am_seg"),
        cnt(~F.col("matched"), F.col("ag_seg")).alias("an_seg"),
        cnt(F.col("matched"), F.col("ag_sign")).alias("am_sign"),
        cnt(~F.col("matched"), F.col("ag_sign")).alias("an_sign"),
        cnt(F.col("matched"), F.col("ag_kb")).alias("am_kb"),
        cnt(~F.col("matched"), F.col("ag_kb")).alias("an_kb"),
    )
    stacked = agg.selectExpr(
        "nm",
        "nn",
        "stack(3, "
        "'mktsegment', am_seg, an_seg, "
        "'acctbal_sign', am_sign, an_sign, "
        "'acctbal_kbucket', am_kb, an_kb) AS (field, am, an)",
    )
    return stacked.select(
        "field",
        F.col("nm").alias("n_match"),
        F.col("nn").alias("n_nonmatch"),
        F.col("am").alias("n_agree_match"),
        F.col("an").alias("n_agree_nonmatch"),
        F.round(F.col("am").cast("double") / F.col("nm"), 6).alias("m_rate"),
        F.round(F.col("an").cast("double") / F.col("nn"), 6).alias("u_rate"),
        F.when(
            (F.col("am") > 0) & (F.col("an") > 0),
            F.round(
                F.log2(
                    F.col("am").cast("double")
                    * F.col("nn")
                    / (F.col("an").cast("double") * F.col("nm"))
                ),
                4,
            ),
        ).alias("log2_weight"),
    ).orderBy("field")


@register(
    "events_activity_streaks",
    """WITH d AS (
         SELECT DISTINCT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day
         FROM events),
       rn AS (SELECT user_id, day,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY day) AS rk
              FROM d),
       runs AS (SELECT user_id, count(*)::BIGINT AS len
                FROM rn GROUP BY user_id, day - rk),
       mx AS (SELECT user_id, max(len)::BIGINT AS max_streak
              FROM runs GROUP BY user_id)
       SELECT max_streak AS streak_days, count(*)::BIGINT AS n_users
       FROM mx GROUP BY max_streak ORDER BY max_streak""",
    doc="Consecutive-active-day streaks (gaps-and-islands): per user, "
    "distinct active days get a per-user row_number, day - rank is "
    "constant exactly across consecutive runs (the island id), runs "
    "group to lengths, and the report is the distribution of each "
    "user's LONGEST streak — the engagement-cohort summary next to the "
    "retention matrix. Scale shape: one user-keyed dedup + one "
    "user-partitioned window + two map-side-combinable aggregates; "
    "output bounded by the day-span domain.",
)
def q_events_streaks(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = (
        events_table(spark, sf)
        .select("user_id", F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"))
        .distinct()
    )
    rn = d.withColumn(
        "rk", F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    )
    runs = rn.groupBy("user_id", (F.col("day") - F.col("rk")).alias("island")).agg(
        F.count("*").cast("long").alias("len")
    )
    mx = runs.groupBy("user_id").agg(F.max("len").cast("long").alias("max_streak"))
    return (
        mx.groupBy(F.col("max_streak").alias("streak_days"))
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("streak_days")
    )


@register(
    "stats_mann_kendall",
    """WITH mo AS (
         SELECT (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS m,
                sum(round(o_totalprice * 100))::BIGINT AS y
         FROM orders GROUP BY 1),
       s AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s_stat
             FROM mo a JOIN mo b ON b.m > a.m),
       n AS (SELECT count(*)::BIGINT AS n FROM mo),
       ties AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
                  AS tie_term
                FROM (SELECT count(*)::BIGINT AS t FROM mo GROUP BY y)
                WHERE t > 1),
       v AS (SELECT (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term)
                    / 18.0 AS var_s, n.n
             FROM n, ties)
       SELECT v.n AS n_points, s.s_stat,
              round(v.var_s, 4) AS var_s,
              round(CASE WHEN s.s_stat > 0
                           THEN (s.s_stat - 1) / sqrt(v.var_s)
                         WHEN s.s_stat < 0
                           THEN (s.s_stat + 1) / sqrt(v.var_s)
                         ELSE 0.0 END, 4) AS z_stat,
              CASE WHEN s.s_stat > 0 THEN 'increasing'
                   WHEN s.s_stat < 0 THEN 'decreasing'
                   ELSE 'none' END AS trend
       FROM s, v""",
    doc="Mann-Kendall non-parametric trend TEST on monthly revenue — the "
    "significance companion to stats_theil_sen_slope's magnitude (the "
    "pair S counts sign agreements, so one corrupted month cannot move "
    "it): exact integer S over the date-domain-bounded pair join "
    "(months^2/2 — a constant), the tie-corrected variance "
    "[n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18 from exact integer counts, "
    "and the continuity-corrected z. Scale shape: one map-side-"
    "combinable monthly rollup (localCheckpoint'ed before its "
    "self-join and tie scan), then constant-size arithmetic.",
)
def q_stats_mann_kendall(spark: SparkSession, sf: str):
    mo = (
        table(spark, sf, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("m")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("y"))
        .transform(ckpt)
    )
    a = mo.select(F.col("m").alias("m1"), F.col("y").alias("y1"))
    b = mo.select(F.col("m").alias("m2"), F.col("y").alias("y2"))
    s = (
        a.join(b, F.col("m2") > F.col("m1"))
        .agg(
            F.sum(
                F.when(F.col("y2") > F.col("y1"), 1)
                .when(F.col("y2") < F.col("y1"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = mo.agg(F.count("*").cast("long").alias("n"))
    ties = (
        mo.groupBy("y")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = (
        n.crossJoin(F.broadcast(ties))
        .select(
            "n",
            (
                (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                 - F.col("tie_term"))
                / 18.0
            ).alias("var_s"),
        )
    )
    j = s.crossJoin(F.broadcast(v))
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("n").alias("n_points"),
        "s_stat",
        F.round(F.col("var_s"), 4).alias("var_s"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


@register(
    "timeseries_seasonal_strength",
    """WITH d AS (
         SELECT (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                sum(round(value * 100))::BIGINT AS y
         FROM events GROUP BY day),
       w AS (SELECT day, y, (day % 7)::BIGINT AS wd FROM d),
       wm AS (SELECT wd, round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS wmean
              FROM w GROUP BY wd),
       gm AS (SELECT round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS gmean,
                     count(*)::BIGINT AS n
              FROM w),
       r AS (SELECT w.y - wm.wmean AS rem, w.y - gm.gmean AS detr
             FROM w JOIN wm USING (wd), gm),
       v AS (SELECT sum(round(rem * rem, 6)::DECIMAL(30,6)) AS vr,
                    sum(round(detr * detr, 6)::DECIMAL(30,6)) AS vd,
                    count(*)::BIGINT AS n
             FROM r)
       SELECT n AS n_days,
              round(CAST(vr AS DOUBLE) / n, 4) AS var_remainder,
              round(CAST(vd AS DOUBLE) / n, 4) AS var_detrended,
              round(greatest(0.0, 1 - (CAST(vr AS DOUBLE) / n)
                                   / (CAST(vd AS DOUBLE) / n)), 6)
                AS seasonal_strength
       FROM v""",
    doc="STL-style seasonal-strength score for daily revenue with a "
    "weekly component: Fs = max(0, 1 - Var(remainder)/Var(detrended)) "
    "where the seasonal fit is the per-weekday mean — the scalar that "
    "says whether timeseries_seasonal_decompose's weekly indexes carry "
    "signal or noise (Fs near 0: don't deseasonalize; near 1: weekday "
    "explains the series). Means round to 6 dp before residuals, and "
    "both variance numerators accumulate rounded squares as "
    "DECIMAL(30,6) (order-exact), one final rounding each. Scale "
    "shape: one scan-fused day-domain rollup, a 7-row weekday-mean "
    "broadcast, 1-row output.",
)
def q_timeseries_seasonal_strength(spark: SparkSession, sf: str):
    d = (
        events_table(spark, sf)
        .groupBy(F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("y"))
        .withColumn("wd", F.expr("CAST(day % 7 AS BIGINT)"))
        .transform(ckpt)
    )
    wm = d.groupBy("wd").agg(
        F.round(F.sum("y").cast("double") / F.count("*"), 6).alias("wmean")
    )
    gm = d.agg(
        F.round(F.sum("y").cast("double") / F.count("*"), 6).alias("gmean"),
        F.count("*").cast("long").alias("n"),
    )
    r = d.join(F.broadcast(wm), "wd").crossJoin(F.broadcast(gm)).select(
        (F.col("y") - F.col("wmean")).alias("rem"),
        (F.col("y") - F.col("gmean")).alias("detr"),
    )
    v = r.agg(
        F.sum(F.round(F.col("rem") * F.col("rem"), 6).cast("decimal(30,6)")).alias(
            "vr"
        ),
        F.sum(F.round(F.col("detr") * F.col("detr"), 6).cast("decimal(30,6)")).alias(
            "vd"
        ),
        F.count("*").cast("long").alias("n"),
    )
    vr_n = F.col("vr").cast("double") / F.col("n")
    vd_n = F.col("vd").cast("double") / F.col("n")
    return v.select(
        F.col("n").alias("n_days"),
        F.round(vr_n, 4).alias("var_remainder"),
        F.round(vd_n, 4).alias("var_detrended"),
        F.round(F.greatest(F.lit(0.0), 1 - vr_n / vd_n), 6).alias(
            "seasonal_strength"
        ),
    )


@register(
    "events_cohort_ltv",
    """WITH e AS (
         SELECT user_id, (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                round(value * 100)::BIGINT AS cents
         FROM events),
       f AS (SELECT user_id, min(day)::BIGINT AS d0 FROM e GROUP BY user_id),
       aged AS (
         SELECT (f.d0 // 7)::BIGINT AS cohort_week,
                ((e.day - f.d0) // 7)::BIGINT AS age_week,
                e.cents
         FROM e JOIN f USING (user_id)),
       cell AS (
         SELECT cohort_week, age_week, count(*)::BIGINT AS n_events,
                sum(cents)::BIGINT AS revenue_cents
         FROM aged GROUP BY cohort_week, age_week),
       cum AS (
         SELECT cohort_week, age_week, n_events, revenue_cents,
                sum(revenue_cents) OVER (PARTITION BY cohort_week
                  ORDER BY age_week ROWS UNBOUNDED PRECEDING)::BIGINT
                  AS cum_revenue_cents
         FROM cell)
       SELECT * FROM cum ORDER BY cohort_week, age_week""",
    doc="Cohort lifetime-value matrix: users cohort by first-activity "
    "week, every event's revenue lands in its (cohort_week, age_week) "
    "cell, and each cohort's running total is the LTV curve — the "
    "revenue companion to cohort_retention_matrix's counts (the pair "
    "answers 'do later cohorts monetize faster?'). Exact integer "
    "cents; the cumulative window is PARTITIONED by cohort over the "
    "age-week domain (~span/7 rows per cohort — the offset-table "
    "class, never a window over raw events). Scale shape: one user_id "
    "rollup + one user_id join shuffle + a week-domain-bounded cell "
    "aggregate.",
)
def q_events_cohort_ltv(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select(
        "user_id",
        F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    f = e.groupBy("user_id").agg(F.min("day").cast("long").alias("d0"))
    aged = e.join(f, "user_id").select(
        F.expr("CAST(d0 DIV 7 AS BIGINT)").alias("cohort_week"),
        F.expr("CAST((day - d0) DIV 7 AS BIGINT)").alias("age_week"),
        "cents",
    )
    cell = aged.groupBy("cohort_week", "age_week").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    w = Window.partitionBy("cohort_week").orderBy("age_week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cell.select(
        "cohort_week",
        "age_week",
        "n_events",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    ).orderBy("cohort_week", "age_week")


@register(
    "graph_degree_assortativity",
    f"""WITH {_lsh_edges_sql()},
       und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       deg AS (SELECT src AS node, count(*)::BIGINT AS d FROM und
               GROUP BY node),
       pairs AS (
         SELECT da.d AS dx, db.d AS dy
         FROM und u JOIN deg da ON da.node = u.src
                    JOIN deg db ON db.node = u.dst),
       m AS (SELECT count(*)::BIGINT AS n,
                    sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
                    sum(dx::DECIMAL(38,0) * dy)::DECIMAL(38,0) AS sxy,
                    sum(dx::DECIMAL(38,0) * dx)::DECIMAL(38,0) AS sxx,
                    sum(dy::DECIMAL(38,0) * dy)::DECIMAL(38,0) AS syy
             FROM pairs)
       SELECT n AS n_directed_edges,
              round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                    / sqrt((n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * sx)
                           * (n * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * sy)), 6)
                AS assortativity
       FROM m""",
    doc="Degree assortativity of the LSH candidate graph — the Pearson "
    "correlation of endpoint degrees over directed edge instances "
    "(Newman's r): positive means duplicate clusters link hubs to hubs "
    "(clean near-clique dedup structure), negative means star-shaped "
    "collision noise — the one-scalar companion to the triangle "
    "census. Moments are exact integer/DECIMAL sums over the "
    "edge-degree join; the correlation is one shared IEEE tree rounded "
    "once. Scale shape: one degree rollup + two node-key joins along "
    "the edge list (cost ~ |E|, never all-pairs), 1-row output.",
)
def q_graph_assortativity(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import degree_assortativity

    return degree_assortativity(_lsh_edges(spark, sf))


@register(
    "events_interarrival_stats",
    """WITH e AS (
         SELECT user_id, floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       g AS (
         SELECT ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                       ORDER BY ts_s, event_id) AS gap
         FROM e),
       m AS (SELECT count(*)::BIGINT AS n, sum(gap)::BIGINT AS s,
                    sum(gap::DECIMAL(38,0) * gap)::DECIMAL(38,0) AS q,
                    min(gap)::BIGINT AS mn, max(gap)::BIGINT AS mx
             FROM g WHERE gap IS NOT NULL)
       SELECT n AS n_gaps, mn AS min_gap_s, mx AS max_gap_s,
              round(CAST(s AS DOUBLE) / n, 4) AS mean_gap_s,
              round(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                         / (n - 1)) / (CAST(s AS DOUBLE) / n), 6) AS cv
       FROM m""",
    doc="Per-user inter-arrival-time profile: consecutive event gaps via "
    "one user-partitioned lag, reduced to exact integer/DECIMAL "
    "moments — the coefficient of variation is the Poisson-process "
    "companion to stats_overdispersion (exponential arrivals have "
    "CV = 1; CV >> 1 means bursty sessions, the thing that invalidates "
    "per-event independence assumptions in the A/B machinery). Scale "
    "shape: one user_id window shuffle + one scan-fused moment "
    "aggregate, 1-row output.",
)
def q_events_interarrival(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select("user_id", "ts_s", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    g = e.select((F.col("ts_s") - F.lag("ts_s").over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    m = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")).alias("q"),
        F.min("gap").cast("long").alias("mn"),
        F.max("gap").cast("long").alias("mx"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    return m.select(
        F.col("n").alias("n_gaps"),
        F.col("mn").alias("min_gap_s"),
        F.col("mx").alias("max_gap_s"),
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(F.sqrt(var) / mean, 6).alias("cv"),
    )


# two daily COUNT series for the cross-correlation: clicks (the driver
# signal) and purchases (the response)
_CCF_CTE = """dd AS (
         SELECT (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                  AS x,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  ::BIGINT AS y
         FROM events GROUP BY day)"""


@register(
    "timeseries_cross_correlation",
    f"""WITH {_CCF_CTE},
       l AS (SELECT unnest(range(0, 8))::BIGINT AS lag),
       p AS (SELECT l.lag, a.x AS xa, b.y AS yb
             FROM dd a CROSS JOIN l JOIN dd b ON b.day = a.day + l.lag),
       m AS (SELECT lag, count(*)::BIGINT AS n,
                    sum(xa)::BIGINT AS sx, sum(yb)::BIGINT AS sy,
                    sum(xa::DECIMAL(38,0) * xa)::DECIMAL(38,0) AS sxx,
                    sum(yb::DECIMAL(38,0) * yb)::DECIMAL(38,0) AS syy,
                    sum(xa::DECIMAL(38,0) * yb)::DECIMAL(38,0) AS sxy
             FROM p GROUP BY lag)
       SELECT lag, n,
              round(CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                              <= 0 THEN 0.0
                    ELSE (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                         / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                                * (n * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE) * sy)) END, 6) AS ccf
       FROM m ORDER BY lag""",
    doc="Lagged cross-correlation between the daily click and purchase "
    "count series (lags 0..7): the lead-lag discovery step that says "
    "whether clicks PREDICT purchases k days out — the bivariate "
    "companion to timeseries_acf, same exact-moment discipline "
    "(integer daily counts, lag pairing via an equi-join on day+k over "
    "the date-domain-bounded series, Pearson from exact "
    "integer/DECIMAL sums, one rounding per row, degenerate variance "
    "-> 0). Scale shape: one scan-fused daily aggregate + a "
    "days x 8 bounded lag join.",
)
def q_timeseries_ccf(spark: SparkSession, sf: str):
    dd = (
        events_table(spark, sf)
        .groupBy(F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .transform(ckpt)
    )
    a = dd.withColumn(
        "lag", F.explode(F.array(*[F.lit(k).cast("long") for k in range(0, 8)]))
    ).select("lag", (F.col("day") + F.col("lag")).alias("bday"), F.col("x").alias("xa"))
    b = dd.select(F.col("day").alias("bday"), F.col("y").alias("yb"))
    p = a.join(b, "bday")
    xa_d = F.col("xa").cast("decimal(38,0)")
    yb_d = F.col("yb").cast("decimal(38,0)")
    m = p.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("yb").cast("long").alias("sy"),
        F.sum(xa_d * F.col("xa")).cast("decimal(38,0)").alias("sxx"),
        F.sum(yb_d * F.col("yb")).cast("decimal(38,0)").alias("syy"),
        F.sum(xa_d * F.col("yb")).cast("decimal(38,0)").alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    dx = n * sxx - sx * F.col("sx")
    dy = n * syy - sy.cast("double") * sy
    num = n * sxy - sx * sy
    return m.select(
        "lag",
        "n",
        F.round(
            F.when(dx * dy <= 0, F.lit(0.0)).otherwise(num / F.sqrt(dx * dy)), 6
        ).alias("ccf"),
    ).orderBy("lag")


# --- per-node local clustering coefficient (r9) ----------------------------


@register(
    "graph_local_clustering",
    None,  # oracle attached below (composes the shared LSH-edge CTE)
    doc="Per-node local clustering coefficient of the LSH candidate "
    "graph — the Watts-Strogatz refinement of graph_triangle_count's "
    "single global transitivity number, and the per-node health "
    "metric for a dedup candidate graph (true duplicate clusters are "
    "near-cliques with local_cc ~ 1; spurious LSH band collisions sit "
    "in open wedges with local_cc ~ 0, so the cc distribution is the "
    "graph-level precision diagnostic). (node, deg, n_tri, local_cc) "
    "per node; 2·tri/(deg·(deg−1)) rounded once, 0.0 below degree 2. "
    "Scale shape: oriented wedge enumeration + closing-edge equi-join "
    "(Σ deg⁺² — never all-pairs), triangle corners credited via one "
    "3-way union + key aggregate; edges checkpointed once "
    "(operators/graph.py local_clustering).",
)
def q_graph_local_clustering(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import local_clustering

    return local_clustering(_lsh_edges(spark, sf))


_REG["graph_local_clustering"].oracle = f"""WITH {_lsh_edges_sql()},
       deg AS (
         SELECT node, count(*)::BIGINT AS deg
         FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
         GROUP BY node),
       tri AS (
         SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         FROM e e1
         JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
         JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       tn AS (
         SELECT node, count(*)::BIGINT AS n_tri
         FROM (SELECT u AS node FROM tri UNION ALL
               SELECT v AS node FROM tri UNION ALL
               SELECT w AS node FROM tri)
         GROUP BY node)
       SELECT d.node, d.deg,
              coalesce(tn.n_tri, 0)::BIGINT AS n_tri,
              CASE WHEN d.deg >= 2
                   THEN round(2.0 * coalesce(tn.n_tri, 0)
                              / (d.deg * (d.deg - 1)), 6)
                   ELSE 0.0 END AS local_cc
       FROM deg d LEFT JOIN tn ON tn.node = d.node"""


# --- Hodges-Lehmann robust location estimator (r9) -------------------------


@register(
    "stats_hodges_lehmann",
    f"""WITH {DAILY_CENTS_CTE},
       p AS (
         SELECT a.x + b.x AS s
         FROM d a JOIN d b ON a.day <= b.day),
       m AS (SELECT count(*)::BIGINT AS n_pairs FROM p),
       r AS (
         SELECT s, row_number() OVER (ORDER BY s) AS rn FROM p),
       med AS (
         SELECT sum(r.s)::BIGINT AS s2, count(*)::BIGINT AS k
         FROM r, m
         WHERE r.rn IN ((m.n_pairs + 1) // 2, m.n_pairs // 2 + 1))
       SELECT (SELECT count(*) FROM d)::BIGINT AS n_days,
              m.n_pairs,
              round(med.s2 * 1.0 / (2 * med.k), 2) AS hl_cents
       FROM m, med""",
    doc="Hodges-Lehmann estimator of the daily-revenue location: the "
    "median of all Walsh averages (x_i + x_j)/2 over day pairs i <= j "
    "— the robust location estimate that pairs with the Mann-Whitney "
    "test (its R estimator), ~95% as efficient as the mean under "
    "normality while shrugging off the heavy-tailed spikes that wreck "
    "it (the robust-metric family next to Theil-Sen's slope and the "
    "winsorized moments). Even-count medians average the two middle "
    "Walsh sums; all selection arithmetic stays integral until the "
    "one rounded division. Scale shape: the pair set is the DATE "
    "DOMAIN squared (days·(days+1)/2 — a constant independent of "
    "event volume, the Theil-Sen boundedness class) built from the "
    "checkpointed daily rollup; the rank selection runs over that "
    "bounded frame, never the event stream.",
)
def q_stats_hodges_lehmann(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = daily_cents(spark, sf)
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    p = a.join(b, F.col("da") <= F.col("db")).select(
        (F.col("xa") + F.col("xb")).alias("s")
    )
    m = p.agg(F.count("*").cast("long").alias("n_pairs"))
    r = p.withColumn("rn", F.row_number().over(Window.orderBy("s")))
    med = (
        r.crossJoin(F.broadcast(m))
        .filter(
            (F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n_pairs") / 2) + 1)
        )
        .agg(
            F.sum("s").cast("long").alias("s2"),
            F.count("*").cast("long").alias("k"),
        )
    )
    n_days = d.agg(F.count("*").cast("long").alias("n_days"))
    return (
        n_days.crossJoin(m)
        .crossJoin(med)
        .select(
            "n_days",
            "n_pairs",
            F.round(F.col("s2") * 1.0 / (2 * F.col("k")), 2).alias(
                "hl_cents"
            ),
        )
    )


# --- round-9 batch D: 2-hop reach ------------------------------------------


@register(
    "graph_two_hop_reach",
    None,  # oracle attached below (composes the shared LSH-edge CTE)
    doc="Per-node 2-hop neighborhood size of the MinHash-LSH candidate "
    "graph — the local-density companion to graph_local_clustering: a "
    "node whose 2-hop reach barely exceeds its degree sits inside a "
    "dense near-clique (what duplicate clusters look like), while "
    "reach >> degree marks a bridge/spurious-collision node. One "
    "bidirect + one middle-node self-equi-join with a degree-64 hub cap "
    "on the middle node (the super-node exclusion: capped cost is "
    "Σ_{deg<=64} deg² <= 64·2E, linear in edges, where one degenerate "
    "band key at 100× would otherwise make Σ deg² quadratic in the "
    "hub's degree), union with the 1-hop frontier, distinct + count; "
    "the bidirected edge list is localCheckpoint'ed once "
    "(operators/graph.py two_hop_reach; cap mirrored in the oracle).",
)
def q_graph_two_hop_reach(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import two_hop_reach

    return two_hop_reach(_lsh_edges(spark, sf))


_REG["graph_two_hop_reach"].oracle = f"""WITH {_lsh_edges_sql()},
       bid AS (
         SELECT src, dst FROM e
         UNION ALL
         SELECT dst AS src, src AS dst FROM e),
       deg AS (SELECT src AS node, count(*)::BIGINT AS deg
               FROM bid GROUP BY src),
       two AS (
         SELECT a.src AS node, b.dst AS nb
         FROM bid a
         JOIN deg dm ON dm.node = a.dst AND dm.deg <= 64
         JOIN bid b ON a.dst = b.src
         WHERE b.dst != a.src),
       reach AS (
         SELECT node, count(*)::BIGINT AS reach_2hop FROM (
           SELECT DISTINCT node, nb FROM (
             SELECT src AS node, dst AS nb FROM bid
             UNION ALL SELECT node, nb FROM two))
         GROUP BY node)
       SELECT d.node, d.deg, r.reach_2hop
       FROM deg d JOIN reach r ON d.node = r.node"""


# --- round-11 head start: Markov entropy rate ---------------------------------


@register(
    "events_markov_entropy_rate",
    """WITH e AS (
         SELECT user_id, event_type AS state,
                floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       seq AS (
         SELECT user_id, state,
                lag(state) OVER (PARTITION BY user_id
                                 ORDER BY ts_s, event_id) AS prev
         FROM e),
       t AS (
         SELECT prev AS s, state AS v, count(*)::BIGINT AS c
         FROM seq WHERE prev IS NOT NULL GROUP BY prev, state),
       fr AS (SELECT s, sum(c)::BIGINT AS cs FROM t GROUP BY s),
       tot AS (SELECT sum(c)::BIGINT AS n FROM t),
       terms AS (
         SELECT round((t.c * 1.0 / tot.n) * log2(t.c * 1.0 / fr.cs), 9)
                  ::DECIMAL(20,9) AS term
         FROM t JOIN fr USING (s), tot),
       k AS (SELECT count(*)::BIGINT AS n_states FROM fr)
       SELECT tot.n AS n_transitions, k.n_states,
              round(-CAST(sum(term) AS DOUBLE), 6) AS entropy_rate_bits,
              round(log2(k.n_states), 6) AS max_entropy_bits,
              round(-CAST(sum(term) AS DOUBLE) / log2(k.n_states), 6)
                AS predictability_ratio
       FROM terms, tot, k
       GROUP BY tot.n, k.n_states""",
    doc="Empirical entropy rate of the first-order Markov chain over "
    "per-user event sequences — the single-number summary of "
    "events_markov_transitions: H = -Sum_(s,v) (c_sv/T) "
    "log2(c_sv/c_s), the average surprisal of the next action given "
    "the current one. Low rate relative to log2(#states) = scripted/"
    "predictable traffic (the bot-detection scalar next to the full "
    "matrix); the ratio column makes the comparison explicit. Each "
    "plogp term rounds to 9 dp and DECIMAL-sums (the catalog's "
    "entropy discipline); counts are exact integers from one lag "
    "window + a states^2-bounded rollup. Scale shape: one user_id "
    "window shuffle, then states^2-row arithmetic — no further "
    "data-sized stage.",
)
def q_events_markov_entropy(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select(
        "user_id", F.col("event_type").alias("state"), "ts_s", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    seq = e.withColumn("prev", F.lag("state").over(w))
    t = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("s"), F.col("state").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .transform(ckpt)  # states^2 rows; feeds 3 branches
    )
    fr = t.groupBy("s").agg(F.sum("c").cast("long").alias("cs"))
    tot = t.agg(F.sum("c").cast("long").alias("n"))
    k = fr.agg(F.count("*").cast("long").alias("n_states"))
    terms = (
        t.join(F.broadcast(fr), "s")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("c") * 1.0 / F.col("n"))
                * F.log2(F.col("c") * 1.0 / F.col("cs")),
                9,
            )
            .cast("decimal(20,9)")
            .alias("term")
        )
    )
    h = -F.col("sum_term").cast("double")
    return (
        terms.agg(F.sum("term").alias("sum_term"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(k))
        .select(
            F.col("n").alias("n_transitions"),
            "n_states",
            F.round(h, 6).alias("entropy_rate_bits"),
            F.round(F.log2(F.col("n_states")), 6).alias("max_entropy_bits"),
            F.round(h / F.log2(F.col("n_states")), 6).alias(
                "predictability_ratio"
            ),
        )
    )


# --- round-11: Nelson-Aalen cumulative hazard --------------------------------


@register(
    "survival_nelson_aalen",
    """WITH e AS (
         SELECT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                event_type, value
         FROM events),
       u AS (SELECT user_id, min(day) AS f, max(day) AS l
             FROM e GROUP BY 1),
       conv AS (SELECT user_id, min(day) AS cd FROM e
                WHERE event_type = 'purchase' AND value >= 150 GROUP BY 1),
       lt AS (SELECT CASE WHEN c.cd IS NOT NULL THEN c.cd - u.f
                          ELSE u.l - u.f END::BIGINT AS t,
                     CASE WHEN c.cd IS NOT NULL THEN 1 ELSE 0 END AS obs
              FROM u LEFT JOIN conv c USING (user_id)),
       pt AS (SELECT t, count(*)::BIGINT AS n_at, sum(obs)::BIGINT AS d
              FROM lt GROUP BY t),
       r AS (SELECT t, d,
                    (sum(n_at) OVER ()
                     - coalesce(sum(n_at) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0))::BIGINT AS n_risk
             FROM pt),
       dd AS (SELECT t, d, n_risk,
                     round(d * 1.0 / n_risk, 9)::DECIMAL(20,9) AS hz,
                     round(d * 1.0 / (n_risk::DOUBLE * n_risk), 9)
                       ::DECIMAL(20,9) AS vz
              FROM r WHERE d > 0),
       s AS (SELECT t, d, n_risk,
                    sum(hz) OVER w AS ch, sum(vz) OVER w AS cv
             FROM dd WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
       SELECT t AS lifetime_days, n_risk, d AS n_deaths,
              round(CAST(ch AS DOUBLE), 6) AS cum_hazard,
              round(sqrt(CAST(cv AS DOUBLE)), 6) AS hazard_se,
              round(exp(-CAST(ch AS DOUBLE)), 6) AS breslow_survival
       FROM s""",
    doc="Nelson-Aalen cumulative-hazard estimator over the same "
    "right-censored time-to-conversion data as survival_kaplan_meier: "
    "H(t) = sum_{s<=t} d_s/n_s with the Poisson-variance standard "
    "error sqrt(sum d/n^2) and the Breslow survival transform "
    "exp(-H). Where KM multiplies survival factors, NA sums hazard "
    "increments — the additive form is what hazard-ratio models and "
    "competing-risk extensions start from, and near d<<n the two "
    "curves agree (a cheap cross-estimator sanity check: breslow_"
    "survival vs KM's survival column). Hazard increments are "
    "9-dp-rounded DECIMAL(20,9) running sums (order-free, "
    "IEEE-identical in both engines). Scale shape: identical to KM — "
    "two per-user rollups joined on user_id, then every window runs "
    "over the bounded lifetime-day domain, never over users.",
)
def q_survival_nelson_aalen(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ev = events_table(spark, sf).select(
        "user_id",
        F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"),
        "event_type",
        "value",
    )
    u = ev.groupBy("user_id").agg(
        F.min("day").alias("f"), F.max("day").alias("l")
    )
    conv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .groupBy("user_id")
        .agg(F.min("day").alias("cd"))
    )
    lt = u.join(conv, "user_id", "left").select(
        F.when(F.col("cd").isNotNull(), F.col("cd") - F.col("f"))
        .otherwise(F.col("l") - F.col("f"))
        .cast("long")
        .alias("t"),
        F.when(F.col("cd").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    pt = lt.groupBy("t").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("obs").cast("long").alias("d"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cb = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = pt.select(
        "t",
        "d",
        (
            F.sum("n_at").over(w_all)
            - F.coalesce(F.sum("n_at").over(w_cb), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    dd = r.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.round(F.col("d") * 1.0 / F.col("n_risk"), 9)
        .cast("decimal(20,9)")
        .alias("hz"),
        F.round(
            F.col("d") * 1.0 / (F.col("n_risk").cast("double") * F.col("n_risk")),
            9,
        )
        .cast("decimal(20,9)")
        .alias("vz"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    s = dd.select(
        "t",
        "d",
        "n_risk",
        F.sum("hz").over(w_cum).alias("ch"),
        F.sum("vz").over(w_cum).alias("cv"),
    )
    ch = F.col("ch").cast("double")
    return s.select(
        F.col("t").alias("lifetime_days"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        F.round(ch, 6).alias("cum_hazard"),
        F.round(F.sqrt(F.col("cv").cast("double")), 6).alias("hazard_se"),
        F.round(F.exp(-ch), 6).alias("breslow_survival"),
    )


# --- round-11: two-sample log-rank test ---------------------------------------

_LOGRANK_CHI2_CRIT_1DF = 3.8415  # chi-square 0.95 quantile, 1 df


@register(
    "survival_log_rank",
    f"""WITH e AS (
         SELECT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                event_type, value
         FROM events),
       u AS (SELECT user_id, (user_id % 2)::BIGINT AS grp,
                    min(day) AS f, max(day) AS l
             FROM e GROUP BY 1, 2),
       conv AS (SELECT user_id, min(day) AS cd FROM e
                WHERE event_type = 'purchase' AND value >= 150 GROUP BY 1),
       lt AS (SELECT u.grp,
                     CASE WHEN c.cd IS NOT NULL THEN c.cd - u.f
                          ELSE u.l - u.f END::BIGINT AS t,
                     CASE WHEN c.cd IS NOT NULL THEN 1 ELSE 0 END AS obs
              FROM u LEFT JOIN conv c USING (user_id)),
       pt AS (SELECT grp, t, count(*)::BIGINT AS n_at,
                     sum(obs)::BIGINT AS d
              FROM lt GROUP BY 1, 2),
       days AS (SELECT DISTINCT t FROM pt),
       grid AS (SELECT g.grp, days.t,
                       coalesce(p.n_at, 0)::BIGINT AS n_at,
                       coalesce(p.d, 0)::BIGINT AS d
                FROM days CROSS JOIN (SELECT 0::BIGINT AS grp
                                      UNION ALL SELECT 1::BIGINT) g
                LEFT JOIN pt p ON p.grp = g.grp AND p.t = days.t),
       r AS (SELECT grp, t, d,
                    (sum(n_at) OVER (PARTITION BY grp)
                     - coalesce(sum(n_at) OVER (PARTITION BY grp ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0))::BIGINT AS n_risk
             FROM grid),
       byday AS (SELECT t,
                        sum(d)::BIGINT AS d_tot,
                        sum(n_risk)::BIGINT AS n_tot,
                        sum(CASE WHEN grp = 1 THEN d ELSE 0 END)::BIGINT
                          AS d1,
                        sum(CASE WHEN grp = 1 THEN n_risk ELSE 0 END)::BIGINT
                          AS n1
                 FROM r GROUP BY t),
       terms AS (
         SELECT d1, d_tot,
                round(d_tot * 1.0 * n1 / n_tot, 9)::DECIMAL(20,9) AS e1,
                CASE WHEN n_tot > 1 THEN
                  round(d_tot * (n1 * 1.0 / n_tot) * (1.0 - n1 * 1.0 / n_tot)
                        * (n_tot - d_tot) / (n_tot - 1.0), 9)::DECIMAL(20,9)
                ELSE 0::DECIMAL(20,9) END AS v
         FROM byday WHERE d_tot > 0 AND n_tot > 0),
       agg AS (SELECT sum(d1)::BIGINT AS o1,
                      sum(e1) AS e1s, sum(v) AS vs
               FROM terms),
       sz AS (SELECT sum(CASE WHEN grp = 0 THEN n_at ELSE 0 END)::BIGINT
                       AS n0,
                     sum(CASE WHEN grp = 1 THEN n_at ELSE 0 END)::BIGINT
                       AS n1u
              FROM pt)
       SELECT sz.n0 AS n_users_g0, sz.n1u AS n_users_g1,
              agg.o1 AS observed_g1,
              round(CAST(agg.e1s AS DOUBLE), 6) AS expected_g1,
              round(CAST(agg.vs AS DOUBLE), 6) AS variance,
              round((agg.o1 - CAST(agg.e1s AS DOUBLE))
                    * (agg.o1 - CAST(agg.e1s AS DOUBLE))
                    / CAST(agg.vs AS DOUBLE), 4) AS logrank_chi2,
              (agg.o1 - CAST(agg.e1s AS DOUBLE))
                * (agg.o1 - CAST(agg.e1s AS DOUBLE))
                / CAST(agg.vs AS DOUBLE)
                >= {_LOGRANK_CHI2_CRIT_1DF!r} AS curves_differ
       FROM agg CROSS JOIN sz""",
    doc="Two-sample log-rank (Mantel-Cox) test comparing the "
    "time-to-conversion survival curves of two deterministic user "
    "cohorts (user_id parity — the A/B-bucketing twin of "
    "split_hash_assign): at each event time, observed group-1 deaths "
    "vs the hypergeometric expectation d*n1/n and variance "
    "d*(n1/n)*(1-n1/n)*(n-d)/(n-1); chi2 = (O-E)^2/V with 1 df "
    "against the pinned 0.95 critical value. THE standard test for "
    "'did the experiment change time-to-event', robust to censoring "
    "where comparing mean conversion times is not. Per-day E and V "
    "terms are 9-dp DECIMAL(20,9) sums (order-free parity). Scale "
    "shape: per-user rollups on the user key, then a bounded "
    "(day x 2-group) grid — the risk-set windows and the final "
    "aggregate run over the day domain, never over users or events.",
)
def q_survival_log_rank(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ev = events_table(spark, sf).select(
        "user_id",
        F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"),
        "event_type",
        "value",
    )
    u = ev.groupBy(
        "user_id", (F.col("user_id") % 2).cast("long").alias("grp")
    ).agg(F.min("day").alias("f"), F.max("day").alias("l"))
    conv = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .groupBy("user_id")
        .agg(F.min("day").alias("cd"))
    )
    lt = u.join(conv, "user_id", "left").select(
        "grp",
        F.when(F.col("cd").isNotNull(), F.col("cd") - F.col("f"))
        .otherwise(F.col("l") - F.col("f"))
        .cast("long")
        .alias("t"),
        F.when(F.col("cd").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    # pt is the (grp x lifetime-day) rollup — tiny (bounded by the date
    # span x 2); checkpoint it so the three downstream consumers (day
    # spine, grid join, group sizes) re-read the rollup, not the events
    # scan (scan-multiplicity 2: the per-user u + conv passes).
    pt = (
        lt.groupBy("grp", "t")
        .agg(
            F.count("*").cast("long").alias("n_at"),
            F.sum("obs").cast("long").alias("d"),
        )
        .transform(ckpt)
    )
    days = pt.select("t").distinct()
    grps = pt.sparkSession.range(2).select(F.col("id").cast("long").alias("grp"))
    grid = (
        days.crossJoin(F.broadcast(grps))
        .join(pt, ["grp", "t"], "left")
        .select(
            "grp",
            "t",
            F.coalesce(F.col("n_at"), F.lit(0)).cast("long").alias("n_at"),
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("d"),
        )
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cb = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = grid.select(
        "grp",
        "t",
        "d",
        (
            F.sum("n_at").over(w_all)
            - F.coalesce(F.sum("n_at").over(w_cb), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    byday = r.groupBy("t").agg(
        F.sum("d").cast("long").alias("d_tot"),
        F.sum("n_risk").cast("long").alias("n_tot"),
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    p1 = F.col("n1") * 1.0 / F.col("n_tot")
    terms = byday.filter((F.col("d_tot") > 0) & (F.col("n_tot") > 0)).select(
        "d1",
        F.round(F.col("d_tot") * p1, 9).cast("decimal(20,9)").alias("e1"),
        F.when(
            F.col("n_tot") > 1,
            F.round(
                F.col("d_tot")
                * p1
                * (1.0 - p1)
                * (F.col("n_tot") - F.col("d_tot"))
                / (F.col("n_tot") - 1.0),
                9,
            ).cast("decimal(20,9)"),
        )
        .otherwise(F.lit(0).cast("decimal(20,9)"))
        .alias("v"),
    )
    agg = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1").alias("e1s"),
        F.sum("v").alias("vs"),
    )
    sz = pt.groupBy().agg(
        F.sum(F.when(F.col("grp") == 0, F.col("n_at")).otherwise(0))
        .cast("long")
        .alias("n_users_g0"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_at")).otherwise(0))
        .cast("long")
        .alias("n_users_g1"),
    )
    e1s = F.col("e1s").cast("double")
    vs = F.col("vs").cast("double")
    chi2 = (F.col("o1") - e1s) * (F.col("o1") - e1s) / vs
    return agg.crossJoin(F.broadcast(sz)).select(
        "n_users_g0",
        "n_users_g1",
        F.col("o1").alias("observed_g1"),
        F.round(e1s, 6).alias("expected_g1"),
        F.round(vs, 6).alias("variance"),
        F.round(chi2, 4).alias("logrank_chi2"),
        (chi2 >= F.lit(_LOGRANK_CHI2_CRIT_1DF)).alias("curves_differ"),
    )


# --- round-11: Adamic-Adar link prediction ------------------------------------


@register(
    "graph_adamic_adar",
    None,  # oracle assembled below (reuses the MinHash band-pair CTE)
    doc="Adamic-Adar link prediction over the MinHash-LSH candidate "
    "graph: for every NON-adjacent doc pair with >= 2 common "
    "neighbors, AA = sum over shared neighbors of 1/ln(deg) — the "
    "rare-neighbor-weighted refinement of graph_common_neighbor_"
    "scores (a shared hub says little; a shared degree-2 node is "
    "strong evidence the clusters are one entity). Same scale shape "
    "as the CN query: edge list built ONCE (banded LSH candidates, "
    "localCheckpoint'ed), wedges from one self-equi-join pivoting "
    "only through degree<=16 endpoints (super-node exclusion — a "
    "pivot of degree d else contributes d^2/2 wedges), adjacency "
    "removed by broadcast-able anti-join. Every pivot has deg >= 2 "
    "(a wedge needs two edges), so 1/ln(deg) is finite; terms round "
    "to 9 dp and sum as DECIMAL(20,9) (order-free parity).",
)
def q_graph_adamic_adar(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    pairs = (
        lsh_candidate_pairs(
            lsh_band_keys(
                minhash_signatures(table(spark, sf, "documents")),
                rows_per_band=1,
            )
        )
        .select("doc_a", "doc_b")
        .transform(ckpt)
    )
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    low = deg.filter(F.col("deg") <= 16).select(
        F.col("u").alias("w"), F.col("deg").alias("deg_w")
    )
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("w")).join(low, "w")
    e2 = und.select(F.col("u").alias("w"), F.col("v").alias("b")).join(
        low.select("w"), "w"
    )
    wedges = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(
                F.round(1.0 / F.log(F.col("deg_w")), 9).cast("decimal(20,9)")
            ).alias("aa"),
        )
        .filter(F.col("cn") >= 2)
    )
    cand = wedges.join(
        pairs,
        (wedges["a"] == pairs["doc_a"]) & (wedges["b"] == pairs["doc_b"]),
        "left_anti",
    )
    return cand.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        "cn",
        F.round(F.col("aa").cast("double"), 6).alias("aa_score"),
    )


def _adamic_adar_oracle() -> str:
    from annotations_ingester_spark.plans.queries_scale import SIG_CTE

    return f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       und AS (
         SELECT doc_a AS u, doc_b AS v FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY u),
       low AS (SELECT u AS w, deg AS deg_w FROM deg WHERE deg <= 16),
       wedges AS (
         SELECT e1.u AS a, e2.v AS b, count(*)::BIGINT AS cn,
                sum(round(1.0 / ln(l1.deg_w), 9)::DECIMAL(20,9)) AS aa
         FROM und e1 JOIN low l1 ON l1.w = e1.v
              JOIN und e2 ON e1.v = e2.u
         WHERE e1.u < e2.v GROUP BY 1, 2
         HAVING count(*) >= 2),
       cand AS (
         SELECT w.* FROM wedges w
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.doc_a = w.a AND p.doc_b = w.b))
       SELECT a AS doc_a, b AS doc_b, cn,
              round(CAST(aa AS DOUBLE), 6) AS aa_score
       FROM cand"""


_REG["graph_adamic_adar"].oracle = _adamic_adar_oracle()


# --- round-11: daily-series peak detection ------------------------------------

_PEAK_REL_MIN = 1.15  # min height over the +-3-day local baseline


@register(
    "events_peak_detection",
    f"""WITH {DAILY_CENTS_CTE},
       w AS (SELECT day, x,
                    lag(x) OVER (ORDER BY day) AS xl,
                    lead(x) OVER (ORDER BY day) AS xr,
                    avg(x) OVER (ORDER BY day
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                      AS base
             FROM d)
       SELECT day, x AS revenue_cents,
              round(x / base, 6) AS rel_height,
              (x > xl AND x > xr
               AND round(x / base, 6) >= {_PEAK_REL_MIN!r}) AS is_peak
       FROM w WHERE xl IS NOT NULL AND xr IS NOT NULL""",
    doc="Local-peak detection on the daily revenue series: a day is a "
    "peak when it strictly exceeds both neighbors AND clears a "
    "pinned 15% prominence over its +-3-day moving-average baseline "
    "(the baseline test removes the noise-peak false positives a "
    "bare local-max rule produces — the campaign-spike / "
    "load-anomaly marker that events_anomaly_mad's global MAD "
    "envelope misses when the series trends). The relative height "
    "rounds once and the flag compares the ROUNDED value, so both "
    "engines always agree with the printed number. Endpoint days "
    "(no both-side neighbor) are excluded rather than padded. Scale "
    "shape: one map-side-combinable daily rollup over events, then "
    "all three windows run over the bounded DATE-DOMAIN table.",
)
def q_events_peak_detection(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.plans.catalog import daily_cents

    d = daily_cents(spark, sf)
    w = Window.orderBy("day")
    wb = Window.orderBy("day").rowsBetween(-3, 3)
    o = d.select(
        "day",
        "x",
        F.lag("x").over(w).alias("xl"),
        F.lead("x").over(w).alias("xr"),
        F.avg("x").over(wb).alias("base"),
    ).filter(F.col("xl").isNotNull() & F.col("xr").isNotNull())
    rel = F.round(F.col("x") / F.col("base"), 6)
    return o.select(
        "day",
        F.col("x").alias("revenue_cents"),
        rel.alias("rel_height"),
        (
            (F.col("x") > F.col("xl"))
            & (F.col("x") > F.col("xr"))
            & (rel >= F.lit(_PEAK_REL_MIN))
        ).alias("is_peak"),
    )


# --- round-11: event-mix entropy drift ----------------------------------------


@register(
    "events_entropy_trend",
    """WITH e AS (
         SELECT (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                event_type
         FROM events),
       c AS (SELECT day, event_type, count(*)::BIGINT AS c
             FROM e GROUP BY 1, 2),
       n AS (SELECT day, sum(c)::BIGINT AS n FROM c GROUP BY day),
       h AS (SELECT c.day, n.n,
                    round(log2(n.n)
                          - CAST(sum(round(c.c * log2(c.c), 9)
                                     ::DECIMAL(20,9)) AS DOUBLE) / n.n, 6)
                      AS h_bits
             FROM c JOIN n ON c.day = n.day
             GROUP BY c.day, n.n),
       idx AS (SELECT day, n, h_bits,
                      row_number() OVER (ORDER BY day) AS t
               FROM h),
       fit AS (SELECT count(*)::BIGINT AS m,
                      sum(t)::BIGINT AS st,
                      sum(t * t)::BIGINT AS stt,
                      sum(round(h_bits, 6)::DECIMAL(20,9)) AS sh,
                      sum(round(t * h_bits, 6)::DECIMAL(20,9)) AS sth
               FROM idx)
       SELECT idx.day, idx.n AS n_events, idx.h_bits,
              round(1000.0 * (fit.m * CAST(fit.sth AS DOUBLE)
                              - fit.st * CAST(fit.sh AS DOUBLE))
                    / (fit.m * fit.stt - fit.st * fit.st), 6)
                AS trend_mbits_per_day,
              round(1000.0 * (fit.m * CAST(fit.sth AS DOUBLE)
                              - fit.st * CAST(fit.sh AS DOUBLE))
                    / (fit.m * fit.stt - fit.st * fit.st), 6) < 0
                AS mix_concentrating
       FROM idx CROSS JOIN fit""",
    doc="Daily event-mix Shannon entropy with its linear trend: per day, "
    "H over the event-type distribution (exact integer counts; "
    "c*log2(c) terms 9-dp-rounded DECIMAL sums — the "
    "text_char_entropy discipline) plus the OLS slope of H against "
    "the day index in millibits/day; a falling trend means user "
    "behavior is CONCENTRATING into fewer event types (engagement "
    "funnel narrowing / bot traffic taking over) — the behavioral-"
    "drift scalar that complements stats_psi_drift (which watches "
    "one value distribution, not the type mix). The flag compares "
    "the ROUNDED slope. Scale shape: one map-side-combinable "
    "(day, type) rollup over events, then everything runs on the "
    "bounded (days x 5-type) table; one 1-row fit broadcast.",
)
def q_events_entropy_trend(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select(
        F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"), "event_type"
    )
    # bounded (day x type) rollup, checkpointed: four downstream consumers
    # (totals, entropy, fit, report) re-read ~150 rows, not the events scan
    c = (
        e.groupBy("day", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(ckpt)
    )
    n = c.groupBy("day").agg(F.sum("c").cast("long").alias("n"))
    term = F.sum(
        F.round(F.col("c") * F.log2(F.col("c")), 9).cast("decimal(20,9)")
    )
    h = (
        c.join(n, "day")
        .groupBy("day", "n")
        .agg(
            F.round(
                F.log2(F.col("n")) - term.cast("double") / F.col("n"), 6
            ).alias("h_bits")
        )
    )
    idx = h.select(
        "day",
        "n",
        "h_bits",
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    fit = idx.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.round(F.col("h_bits"), 6).cast("decimal(20,9)")).alias("sh"),
        F.sum(F.round(F.col("t") * F.col("h_bits"), 6).cast("decimal(20,9)")).alias(
            "sth"
        ),
    )
    slope = F.round(
        1000.0
        * (
            F.col("m") * F.col("sth").cast("double")
            - F.col("st") * F.col("sh").cast("double")
        )
        / (F.col("m") * F.col("stt") - F.col("st") * F.col("st")),
        6,
    )
    return idx.crossJoin(F.broadcast(fit)).select(
        "day",
        F.col("n").alias("n_events"),
        "h_bits",
        slope.alias("trend_mbits_per_day"),
        (slope < 0).alias("mix_concentrating"),
    )


# --- round-11: Holt double-exponential-smoothing forecast ---------------------

_HOLT_ALPHA = 0.3  # level smoothing, pinned
_HOLT_BETA = 0.1  # trend smoothing, pinned
_HOLT_H = 7  # forecast horizon, days


@register(
    "timeseries_holt_forecast",
    f"""WITH RECURSIVE {DAILY_CENTS_CTE},
       o AS (SELECT x, row_number() OVER (ORDER BY day) AS t FROM d),
       n AS (SELECT count(*)::BIGINT AS n_days FROM o),
       rec AS (
         SELECT 2 AS t,
                round(0.3::DOUBLE * x2.x
                      + (1 - 0.3)::DOUBLE * (x1.x + (x2.x - x1.x)), 9) AS l,
                round(0.1::DOUBLE
                      * (round(0.3::DOUBLE * x2.x
                               + (1 - 0.3)::DOUBLE
                                 * (x1.x + (x2.x - x1.x)), 9)
                         - x1.x)
                      + (1 - 0.1)::DOUBLE * (x2.x - x1.x), 9) AS b
         FROM (SELECT x::DOUBLE AS x FROM o WHERE t = 1) x1,
              (SELECT x::DOUBLE AS x FROM o WHERE t = 2) x2
         UNION ALL
         SELECT o.t,
                round(0.3::DOUBLE * o.x
                      + (1 - 0.3)::DOUBLE * (rec.l + rec.b), 9),
                round(0.1::DOUBLE
                      * (round(0.3::DOUBLE * o.x
                               + (1 - 0.3)::DOUBLE * (rec.l + rec.b), 9)
                         - rec.l)
                      + (1 - 0.1)::DOUBLE * rec.b, 9)
         FROM rec JOIN o ON o.t = rec.t + 1),
       fin AS (SELECT rec.l, rec.b FROM rec, n WHERE rec.t = n.n_days)
       SELECT h.h::BIGINT AS horizon_days, n.n_days,
              round(fin.l, 4) AS level_cents,
              round(fin.b, 4) AS trend_cents_per_day,
              round(fin.l + h.h * fin.b, 4) AS forecast_cents
       FROM fin CROSS JOIN n
       CROSS JOIN (SELECT unnest(range(1, {_HOLT_H + 1})) AS h) h""",
    doc="Holt double-exponential-smoothing (level + trend) forecast of "
    "the daily revenue series with pinned alpha=0.3/beta=0.1: the "
    "inherently SEQUENTIAL recursion l_t = a*x_t + (1-a)(l+b), b_t = "
    "g*(l_t - l) + (1-g)*b runs as a Catalyst aggregate-fold over the "
    "day-ordered array (the series is DATE-DOMAIN bounded, so the "
    "fold state is one (level, trend) struct and the array is ~30 "
    "elements at any sf — no driver collect, no UDF); the oracle is "
    "a DuckDB recursive CTE computing the identical per-step "
    "9-dp-rounded arithmetic, making the recursion itself the parity "
    "surface. Init l_1=x_1, b_1=x_2-x_1 (standard), 7-day forecast "
    "fan l_T + h*b_T. The EWMA query is the beta=0 special case; "
    "Holt adds the trend state that level-only smoothing lags on "
    "trending series. Scale shape: one map-side-combinable daily "
    "rollup over events, one bounded-array fold, a 7-row horizon fan.",
)
def q_timeseries_holt_forecast(spark: SparkSession, sf: str):
    from annotations_ingester_spark.plans.catalog import daily_cents

    d = daily_cents(spark, sf)
    a, g = _HOLT_ALPHA, _HOLT_BETA
    arr = d.agg(
        F.expr("transform(array_sort(collect_list(struct(day, x))), s -> s.x)").alias(
            "xs"
        )
    )
    fold = arr.select(
        F.size("xs").cast("long").alias("n_days"),
        F.expr(
            f"""aggregate(
              slice(xs, 2, size(xs) - 1),
              named_struct('l', CAST(xs[0] AS DOUBLE),
                           'b', CAST(xs[1] - xs[0] AS DOUBLE)),
              (acc, x) -> named_struct(
                'l', round({a} * x + (1 - {a}) * (acc.l + acc.b), 9),
                'b', round({g} * (round({a} * x
                                        + (1 - {a}) * (acc.l + acc.b), 9)
                                  - acc.l)
                           + (1 - {g}) * acc.b, 9)))"""
        ).alias("st"),
    )
    return fold.select(
        F.explode(F.sequence(F.lit(1), F.lit(_HOLT_H))).alias("horizon_days"),
        "n_days",
        F.col("st.l").alias("_l"),
        F.col("st.b").alias("_b"),
    ).select(
        "horizon_days",
        "n_days",
        F.round(F.col("_l"), 4).alias("level_cents"),
        F.round(F.col("_b"), 4).alias("trend_cents_per_day"),
        F.round(F.col("_l") + F.col("horizon_days") * F.col("_b"), 4).alias(
            "forecast_cents"
        ),
    )


# --- round-11: partial autocorrelation (Durbin-Levinson, lags 1..3) -----------


@register(
    "timeseries_pacf",
    f"""WITH {DAILY_CENTS_CTE},
       g AS (SELECT count(*)::BIGINT AS t_n, avg(x) AS mu FROM d),
       l AS (SELECT unnest(range(0, 4))::BIGINT AS lag),
       p AS (SELECT l.lag, (a.x - g.mu) * (b.x - g.mu) AS dev
             FROM d a CROSS JOIN l
             JOIN d b ON b.day = a.day + l.lag
             CROSS JOIN g),
       c AS (SELECT p.lag,
                    sum(round(p.dev, 4)::DECIMAL(30,4)) AS ck
             FROM p GROUP BY p.lag),
       r AS (SELECT max(CASE WHEN lag = 1 THEN CAST(ck AS DOUBLE) END)
                      / max(CASE WHEN lag = 0 THEN CAST(ck AS DOUBLE) END)
                      AS r1,
                    max(CASE WHEN lag = 2 THEN CAST(ck AS DOUBLE) END)
                      / max(CASE WHEN lag = 0 THEN CAST(ck AS DOUBLE) END)
                      AS r2,
                    max(CASE WHEN lag = 3 THEN CAST(ck AS DOUBLE) END)
                      / max(CASE WHEN lag = 0 THEN CAST(ck AS DOUBLE) END)
                      AS r3
             FROM c),
       f AS (SELECT r1, r2, r3,
                    r1 AS p1,
                    (r2 - r1 * r1) / (1 - r1 * r1) AS p2,
                    (1 * (1 * r3 - r2 * r1) - r1 * (r1 * r3 - r2 * r2)
                     + r1 * (r1 * r1 - 1 * r2))
                    / (1 * (1 - r1 * r1) - r1 * (r1 - r1 * r2)
                       + r2 * (r1 * r1 - r2)) AS p3
             FROM r)
       SELECT u.lag::BIGINT AS lag, g.t_n AS n_days,
              round(CASE u.lag WHEN 1 THEN r1 WHEN 2 THEN r2 ELSE r3 END, 6)
                AS acf_rk,
              round(CASE u.lag WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END, 6)
                AS pacf
       FROM f CROSS JOIN g
       CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) u""",
    doc="Partial autocorrelation of the daily revenue series at lags "
    "1..3 via Durbin-Levinson / Yule-Walker closed forms: phi_11 = "
    "r1, phi_22 = (r2 - r1^2)/(1 - r1^2), phi_33 by Cramer's rule on "
    "the 3x3 Toeplitz system — THE AR-order-selection diagnostic "
    "(an AR(p) series cuts off after lag p in PACF while ACF decays "
    "slowly; complements timeseries_acf, which deliberately uses "
    "per-lag Pearson — here r_k is the standard biased c_k/c_0 "
    "estimator with the GLOBAL mean and common denominator that "
    "Durbin-Levinson assumes, the statsmodels default). Deviation "
    "products round to 4 dp and sum as DECIMAL(30,4) (order-free); "
    "the solve is one deterministic double tree, rounded once per "
    "output. Scale shape: one daily rollup, a 4-way lag self-join "
    "on the bounded day table, a 1-row solve fanned to 3 rows.",
)
def q_timeseries_pacf(spark: SparkSession, sf: str):
    from annotations_ingester_spark.plans.catalog import daily_cents

    d = daily_cents(spark, sf)
    g = d.agg(
        F.count("*").cast("long").alias("t_n"), F.avg("x").alias("mu")
    )
    a = d.crossJoin(F.broadcast(g)).withColumn(
        "lag", F.explode(F.array(*[F.lit(k).cast("long") for k in range(0, 4)]))
    ).select(
        "lag",
        "t_n",
        (F.col("day") + F.col("lag")).alias("bday"),
        (F.col("x") - F.col("mu")).alias("da"),
    )
    b = d.crossJoin(F.broadcast(g)).select(
        F.col("day").alias("bday"), (F.col("x") - F.col("mu")).alias("db")
    )
    c = (
        a.join(b, "bday")
        .groupBy("lag")
        .agg(
            F.sum(
                F.round(F.col("da") * F.col("db"), 4).cast("decimal(30,4)")
            ).alias("ck")
        )
    )
    ck = lambda k: F.max(  # noqa: E731
        F.when(F.col("lag") == k, F.col("ck").cast("double"))
    )
    r = c.agg(
        (ck(1) / ck(0)).alias("r1"),
        (ck(2) / ck(0)).alias("r2"),
        (ck(3) / ck(0)).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p2 = (r2 - r1 * r1) / (1 - r1 * r1)
    p3 = (
        1 * (1 * r3 - r2 * r1) - r1 * (r1 * r3 - r2 * r2) + r1 * (r1 * r1 - 1 * r2)
    ) / (1 * (1 - r1 * r1) - r1 * (r1 - r1 * r2) + r2 * (r1 * r1 - r2))
    f = r.select("r1", "r2", "r3", r1.alias("p1"), p2.alias("p2"), p3.alias("p3"))
    lag = F.col("lag")
    return (
        f.crossJoin(F.broadcast(g.select("t_n")))
        .select(
            F.explode(
                F.array(
                    F.lit(1).cast("long"),
                    F.lit(2).cast("long"),
                    F.lit(3).cast("long"),
                )
            ).alias("lag"),
            F.col("t_n").alias("n_days"),
            "r1", "r2", "r3", "p1", "p2", "p3",
        )
        .select(
            "lag",
            "n_days",
            F.round(
                F.when(lag == 1, F.col("r1"))
                .when(lag == 2, F.col("r2"))
                .otherwise(F.col("r3")),
                6,
            ).alias("acf_rk"),
            F.round(
                F.when(lag == 1, F.col("p1"))
                .when(lag == 2, F.col("p2"))
                .otherwise(F.col("p3")),
                6,
            ).alias("pacf"),
        )
    )


# --- round-11: Holt-Winters additive seasonal forecast ------------------------

_HW_ALPHA = 0.3
_HW_BETA = 0.1
_HW_GAMMA = 0.2
_HW_PERIOD = 7


def _hw_oracle() -> str:
    a, g, c, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_PERIOD
    return f"""WITH RECURSIVE {DAILY_CENTS_CTE},
       o AS (SELECT x::DOUBLE AS x,
                    row_number() OVER (ORDER BY day) AS t FROM d),
       n AS (SELECT count(*)::BIGINT AS n_days FROM o),
       init AS (
         SELECT round(avg(CASE WHEN t <= {m} THEN x END), 9) AS l0,
                round((avg(CASE WHEN t > {m} AND t <= {2 * m} THEN x END)
                       - avg(CASE WHEN t <= {m} THEN x END)) / {m}, 9) AS b0
         FROM o),
       s0 AS (
         SELECT list(round(o.x - init.l0, 9) ORDER BY o.t) AS s
         FROM o, init WHERE o.t <= {m}),
       rec AS (
         SELECT {m + 1} AS t, init.l0 AS l, init.b0 AS b, s0.s AS s
         FROM init, s0
         UNION ALL
         SELECT rec.t + 1,
                round({a}::DOUBLE * (o.x - rec.s[((rec.t - 1) % {m}) + 1])
                      + (1 - {a})::DOUBLE * (rec.l + rec.b), 9),
                round({g}::DOUBLE
                      * (round({a}::DOUBLE
                               * (o.x - rec.s[((rec.t - 1) % {m}) + 1])
                               + (1 - {a})::DOUBLE * (rec.l + rec.b), 9)
                         - rec.l)
                      + (1 - {g})::DOUBLE * rec.b, 9),
                [CASE WHEN j = ((rec.t - 1) % {m}) + 1
                      THEN round({c}::DOUBLE
                                 * (o.x
                                    - round({a}::DOUBLE
                                            * (o.x - rec.s[j])
                                            + (1 - {a})::DOUBLE
                                              * (rec.l + rec.b), 9))
                                 + (1 - {c})::DOUBLE * rec.s[j], 9)
                      ELSE rec.s[j] END
                 for j in range(1, {m + 1})]
         FROM rec JOIN o ON o.t = rec.t),
       fin AS (SELECT rec.l, rec.b, rec.s
               FROM rec, n WHERE rec.t = n.n_days + 1)
       SELECT h.h::BIGINT AS horizon_days, n.n_days,
              round(fin.l, 4) AS level_cents,
              round(fin.b, 4) AS trend_cents_per_day,
              round(fin.s[((n.n_days + h.h - 1) % {m}) + 1], 4)
                AS seasonal_cents,
              round(fin.l + h.h * fin.b
                    + fin.s[((n.n_days + h.h - 1) % {m}) + 1], 4)
                AS forecast_cents
       FROM fin CROSS JOIN n
       CROSS JOIN (SELECT unnest(range(1, {m + 1})) AS h) h"""


@register(
    "timeseries_holt_winters",
    None,  # assembled below (recursive CTE twin of the Catalyst fold)
    doc="Holt-Winters ADDITIVE-SEASONAL forecast (alpha=0.3, beta=0.1, "
    "gamma=0.2, period 7 days) of the daily revenue series: the "
    "three-state recursion (level, trend, 7-slot seasonal array) "
    "runs as ONE Catalyst aggregate-fold whose accumulator is a "
    "struct carrying the seasonal ARRAY — updated functionally per "
    "step via an indexed transform — over the day-ordered series "
    "(bounded by the date domain; no driver collect, no UDF). "
    "Standard init: l = mean of season 1, b = (mean season 2 - mean "
    "season 1)/7, s_i = x_i - mean season 1. The oracle is a DuckDB "
    "recursive CTE with a LIST-typed state column computing the "
    "identical per-step 9-dp-rounded DOUBLE arithmetic — the "
    "strongest recursion-parity surface in the catalog (28+ "
    "coupled-state steps must agree bit-for-bit after rounding). "
    "Extends timeseries_holt_forecast with the seasonal state that "
    "flat level+trend smoothing aliases into its trend on weekly-"
    "cycled series. Scale shape: one map-side-combinable daily "
    "rollup over events, one bounded-array fold, a 7-row horizon fan.",
)
def q_timeseries_holt_winters(spark: SparkSession, sf: str):
    from annotations_ingester_spark.plans.catalog import daily_cents

    a, g, c, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_PERIOD
    d = daily_cents(spark, sf)
    arr = d.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, x)))," 
            " s -> CAST(s.x AS DOUBLE))"
        ).alias("xs")
    )
    init = arr.select(
        "xs",
        F.size("xs").cast("long").alias("n_days"),
        F.expr(
            f"round(aggregate(slice(xs, 1, {m}), 0.0D, (p, q) -> p + q)"
            f" / {m}, 9)"
        ).alias("l0"),
        F.expr(
            f"round((aggregate(slice(xs, {m + 1}, {m}), 0.0D, (p, q) -> p + q)"
            f" / {m}"
            f" - aggregate(slice(xs, 1, {m}), 0.0D, (p, q) -> p + q) / {m})"
            f" / {m}, 9)"
        ).alias("b0"),
    ).selectExpr(
        "xs",
        "n_days",
        "l0",
        "b0",
        f"transform(slice(xs, 1, {m}), v -> round(v - l0, 9)) AS s_init",
    )
    fold = init.select(
        "n_days",
        F.expr(
            f"""aggregate(
              slice(xs, {m + 1}, size(xs) - {m}),
              named_struct('l', l0, 'b', b0, 's', s_init, 't', {m + 1}),
              (acc, x) -> named_struct(
                'l', round({a} * (x - element_at(acc.s, ((acc.t - 1) % {m}) + 1))
                           + (1 - {a}) * (acc.l + acc.b), 9),
                'b', round({g} * (round({a} * (x - element_at(acc.s,
                                               ((acc.t - 1) % {m}) + 1))
                                        + (1 - {a}) * (acc.l + acc.b), 9)
                                  - acc.l)
                           + (1 - {g}) * acc.b, 9),
                's', transform(acc.s, (v, i) ->
                       IF(i + 1 = ((acc.t - 1) % {m}) + 1,
                          round({c} * (x - round({a} * (x - v)
                                              + (1 - {a}) * (acc.l + acc.b), 9))
                                + (1 - {c}) * v, 9),
                          v)),
                't', acc.t + 1))"""
        ).alias("st"),
    )
    return fold.select(
        F.explode(F.sequence(F.lit(1), F.lit(m))).alias("horizon_days"),
        "n_days",
        F.col("st.l").alias("_l"),
        F.col("st.b").alias("_b"),
        F.col("st.s").alias("_s"),
    ).select(
        "horizon_days",
        "n_days",
        F.round(F.col("_l"), 4).alias("level_cents"),
        F.round(F.col("_b"), 4).alias("trend_cents_per_day"),
        F.round(
            F.element_at(
                F.col("_s"),
                (
                    (F.col("n_days") + F.col("horizon_days") - 1) % m + 1
                ).cast("int"),
            ),
            4,
        ).alias("seasonal_cents"),
        F.round(
            F.col("_l")
            + F.col("horizon_days") * F.col("_b")
            + F.element_at(
                F.col("_s"),
                (
                    (F.col("n_days") + F.col("horizon_days") - 1) % m + 1
                ).cast("int"),
            ),
            4,
        ).alias("forecast_cents"),
    )


_REG["timeseries_holt_winters"].oracle = _hw_oracle()


# --- round-11: DAU / trailing-WAU stickiness -----------------------------------


@register(
    "events_dau_wau_stickiness",
    """WITH ud AS (
         SELECT DISTINCT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day
         FROM events),
       span AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
       dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day),
       fan AS (SELECT user_id, day + f.o AS target
               FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) f),
       wau AS (SELECT target AS day, count(DISTINCT user_id)::BIGINT AS wau
               FROM fan, span
               WHERE target BETWEEN span.lo AND span.hi
               GROUP BY target)
       SELECT w.day, coalesce(d.dau, 0)::BIGINT AS dau, w.wau,
              round(coalesce(d.dau, 0) * 1.0 / w.wau, 6) AS stickiness
       FROM wau w LEFT JOIN dau d ON d.day = w.day""",
    doc="DAU / trailing-7-day-WAU stickiness per day — the product-"
    "analytics engagement ratio (DAU/WAU ~ 'how many of this week's "
    "users came back today'; flat DAU with rising WAU means a "
    "broadening-but-disengaging base, invisible to either count "
    "alone). Trailing distinct counts do NOT slide with a window "
    "function (distinct is not subtractable), so each (user, day) "
    "activity fact fans to the 7 calendar days it keeps the user "
    "'weekly-active' for, then one count-distinct per day — the "
    "standard scale-out for sliding-window distinct aggregation "
    "(7x the user-day facts, linear, map-side deduplicable; never "
    "a per-day rescan). Exact integers, one rounded division. "
    "Scale shape: distinct (user, day) rollup, a pinned 7-row fan, "
    "one count-distinct aggregate over the bounded day domain.",
)
def q_events_dau_wau_stickiness(spark: SparkSession, sf: str):
    ud = (
        events_table(spark, sf)
        .select(
            "user_id", F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day")
        )
        .distinct()
        .transform(ckpt)  # user-day facts; feeds span/dau/fan
    )
    span = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    dau = ud.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    fan = ud.crossJoin(
        F.broadcast(
            ud.sparkSession.range(7).select(F.col("id").cast("long").alias("o"))
        )
    ).select("user_id", (F.col("day") + F.col("o")).alias("target"))
    wau = (
        fan.crossJoin(F.broadcast(span))
        .filter(F.col("target").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("target").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return wau.join(dau, "day", "left").select(
        "day",
        F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
        "wau",
        F.round(
            F.coalesce(F.col("dau"), F.lit(0)) * 1.0 / F.col("wau"), 6
        ).alias("stickiness"),
    )


# --- round-11: composite bot-likelihood score ----------------------------------

# pinned scoring weights (milli-units) — a job parameter, not fitted
_BOT_W_REGULARITY = 500.0  # low interarrival CV -> machine-like timing
_BOT_W_ENTROPY = 300.0  # low type entropy -> single-action loops
_BOT_W_VOLUME = 200.0  # event share far above uniform -> flooding
_BOT_SCORE_GATE = 400.0


@register(
    "events_bot_score",
    f"""WITH e AS (
         SELECT user_id, event_type,
                floor(epoch(ts))::BIGINT AS ts_s
         FROM events),
       seq AS (SELECT user_id,
                      ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                             ORDER BY ts_s) AS gap
               FROM e),
       ia AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
                     sum(gap)::BIGINT AS s1,
                     sum(gap::DECIMAL(38,0) * gap)::DECIMAL(38,0) AS s2
              FROM seq WHERE gap IS NOT NULL GROUP BY user_id
              HAVING count(*) >= 2),
       cv AS (SELECT user_id, n_gaps,
                     CASE WHEN s1 > 0 THEN
                       sqrt(greatest(CAST(s2 AS DOUBLE) / n_gaps
                             - (CAST(s1 AS DOUBLE) / n_gaps)
                               * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
                       / (CAST(s1 AS DOUBLE) / n_gaps)
                     ELSE 0.0 END AS ia_cv
              FROM ia),
       tc AS (SELECT user_id, event_type, count(*)::BIGINT AS c
              FROM e GROUP BY 1, 2),
       un AS (SELECT user_id, sum(c)::BIGINT AS n FROM tc GROUP BY user_id),
       ent AS (SELECT tc.user_id,
                      round(log2(un.n)
                            - CAST(sum(round(tc.c * log2(tc.c), 9)
                                       ::DECIMAL(20,9)) AS DOUBLE) / un.n, 6)
                        AS h_bits
               FROM tc JOIN un USING (user_id)
               GROUP BY tc.user_id, un.n),
       tot AS (SELECT sum(n)::BIGINT AS n_total,
                      count(*)::BIGINT AS n_users FROM un),
       sc AS (SELECT cv.user_id, cv.n_gaps, cv.ia_cv, ent.h_bits,
                     un.n AS n_events,
                     {_BOT_W_REGULARITY} * greatest(1.0 - cv.ia_cv, 0.0)
                     + {_BOT_W_ENTROPY}
                       * greatest(1.0 - ent.h_bits / 2.3219281, 0.0)
                     + {_BOT_W_VOLUME}
                       * least(un.n * 1.0 * tot.n_users / tot.n_total
                               / 5.0, 1.0) AS score
              FROM cv JOIN ent USING (user_id) JOIN un USING (user_id)
              CROSS JOIN tot)
       SELECT user_id, n_events, n_gaps,
              round(ia_cv, 6) AS interarrival_cv,
              h_bits AS type_entropy_bits,
              round(score, 4) AS bot_score_milli,
              round(score, 4) >= {_BOT_SCORE_GATE!r} AS flagged
       FROM sc""",
    doc="Composite per-user bot-likelihood score from three behavioral "
    "signals with PINNED weights: timing regularity (1 - coefficient "
    "of variation of interarrival gaps — humans are bursty, cron "
    "jobs are metronomes), action diversity (1 - type entropy / "
    "log2(5) — loops hammer one endpoint), and volume share vs the "
    "uniform-user baseline (capped at 5x) — the triage score a "
    "traffic-quality pipeline computes before any model, composing "
    "signals this catalog certifies separately (events_interarrival_"
    "stats, events_markov_entropy_rate, profile_key_skew). Exact "
    "integer moment/count cores, per-term 9-dp entropy discipline, "
    "flag on the ROUNDED score. Scale shape: one user-partitioned "
    "lag window over events plus two map-side-combinable rollups on "
    "the user key — no unpartitioned window, no data cross join.",
)
def q_events_bot_score(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select("user_id", "event_type", "ts_s")
    seq = e.select(
        "user_id",
        (
            F.col("ts_s")
            - F.lag("ts_s").over(Window.partitionBy("user_id").orderBy("ts_s"))
        ).alias("gap"),
    )
    ia = (
        seq.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("s1"),
            F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    cv = ia.select(
        "user_id",
        "n_gaps",
        F.when(
            F.col("s1") > 0,
            F.sqrt(
                F.greatest(
                    F.col("s2").cast("double") / F.col("n_gaps") - mean * mean,
                    F.lit(0.0),
                )
            )
            / mean,
        )
        .otherwise(0.0)
        .alias("ia_cv"),
    )
    # (user x type) rollup, checkpointed: totals, entropy, and the score
    # assembly re-read the keyed aggregate, not the events scan (events
    # scanned exactly twice: the lag-window pass + this rollup)
    tc = (
        e.groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(ckpt)
    )
    un = tc.groupBy("user_id").agg(F.sum("c").cast("long").alias("n"))
    term = F.sum(
        F.round(F.col("c") * F.log2(F.col("c")), 9).cast("decimal(20,9)")
    )
    ent = (
        tc.join(un, "user_id")
        .groupBy("user_id", "n")
        .agg(
            F.round(
                F.log2(F.col("n")) - term.cast("double") / F.col("n"), 6
            ).alias("h_bits")
        )
        .select("user_id", "h_bits")
    )
    tot = un.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_users"),
    )
    sc = (
        cv.join(ent, "user_id")
        .join(un, "user_id")
        .crossJoin(F.broadcast(tot))
    )
    score = (
        _BOT_W_REGULARITY * F.greatest(1.0 - F.col("ia_cv"), F.lit(0.0))
        + _BOT_W_ENTROPY
        * F.greatest(1.0 - F.col("h_bits") / 2.3219281, F.lit(0.0))
        + _BOT_W_VOLUME
        * F.least(
            F.col("n") * 1.0 * F.col("n_users") / F.col("n_total") / 5.0,
            F.lit(1.0),
        )
    )
    return sc.select(
        "user_id",
        F.col("n").alias("n_events"),
        "n_gaps",
        F.round(F.col("ia_cv"), 6).alias("interarrival_cv"),
        F.col("h_bits").alias("type_entropy_bits"),
        F.round(score, 4).alias("bot_score_milli"),
        (F.round(score, 4) >= F.lit(_BOT_SCORE_GATE)).alias("flagged"),
    )


# --- round-12 head start: modularity of the LPA communities -------------------

_LPA_L2_CTE = """e0 AS (
         SELECT user_id, event_type, count(*)::BIGINT AS w
         FROM events GROUP BY user_id, event_type),
       e AS (
         SELECT 'u:' || user_id::VARCHAR AS src, 't:' || event_type AS dst, w
         FROM e0
         UNION ALL
         SELECT 't:' || event_type, 'u:' || user_id::VARCHAR, w FROM e0),
       nodes AS (SELECT DISTINCT node FROM (
         SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       l0 AS (SELECT node, node AS label FROM nodes),
       s1 AS (
         SELECT e.dst AS n2, l.label, sum(e.w)::BIGINT AS tw
         FROM e JOIN l0 l ON l.node = e.src GROUP BY e.dst, l.label),
       b1 AS (
         SELECT n2 AS node, label FROM (
           SELECT n2, label,
                  row_number() OVER (PARTITION BY n2
                                     ORDER BY tw DESC, label ASC) AS rn
           FROM s1) WHERE rn = 1),
       l1 AS (
         SELECT n.node, coalesce(b1.label, n.node) AS label
         FROM nodes n LEFT JOIN b1 ON b1.node = n.node),
       s2 AS (
         SELECT e.dst AS n2, l.label, sum(e.w)::BIGINT AS tw
         FROM e JOIN l1 l ON l.node = e.src GROUP BY e.dst, l.label),
       b2 AS (
         SELECT n2 AS node, label FROM (
           SELECT n2, label,
                  row_number() OVER (PARTITION BY n2
                                     ORDER BY tw DESC, label ASC) AS rn
           FROM s2) WHERE rn = 1),
       l2 AS (
         SELECT n.node, coalesce(b2.label, n.node) AS label
         FROM nodes n LEFT JOIN b2 ON b2.node = n.node)"""


@register(
    "graph_modularity_score",
    f"""WITH {_LPA_L2_CTE},
       wtot AS (SELECT sum(w)::BIGINT AS big_w FROM e),
       lbl AS (
         SELECT e.src, e.dst, e.w, ls.label AS src_label,
                ld.label AS dst_label
         FROM e JOIN l2 ls ON ls.node = e.src
                JOIN l2 ld ON ld.node = e.dst),
       internal AS (
         SELECT src_label AS community, sum(w)::BIGINT AS w_in
         FROM lbl WHERE src_label = dst_label GROUP BY src_label),
       strength AS (
         SELECT l2.label AS community, sum(s.d)::BIGINT AS d_c
         FROM (SELECT src AS node, sum(w)::BIGINT AS d
               FROM e GROUP BY src) s
         JOIN l2 ON l2.node = s.node GROUP BY l2.label),
       terms AS (
         SELECT s.community,
                coalesce(i.w_in, 0)::BIGINT AS w_in, s.d_c,
                round(coalesce(i.w_in, 0) * 1.0 / wt.big_w
                      - (s.d_c * 1.0 / wt.big_w)
                        * (s.d_c * 1.0 / wt.big_w), 9)::DECIMAL(20,9)
                  AS q_term
         FROM strength s LEFT JOIN internal i USING (community)
         CROSS JOIN wtot wt)
       SELECT count(*)::BIGINT AS n_communities,
              sum(w_in)::BIGINT AS internal_weight,
              round(CAST(sum(q_term) AS DOUBLE), 6) AS modularity,
              round(CAST(sum(q_term) AS DOUBLE), 6) > 0.3
                AS well_partitioned
       FROM terms""",
    doc="Newman modularity of the 2-iteration LPA communities over the "
    "weighted bipartite user<->event-type graph: Q = sum over "
    "communities of (w_in/W - (d_c/W)^2) in the directed-both-ways "
    "convention — the QUALITY score for the partition graph_label_"
    "propagation reports but never grades (Q~0 means the communities "
    "are no better than random strength-preserving rewiring; the "
    "pinned 0.3 gate is the conventional 'real structure' bar). "
    "Per-community terms round to 9 dp and sum as DECIMAL; exact "
    "integer weight/strength cores. Scale shape: the LPA iterations "
    "themselves (per iteration one labels-onto-edges join + "
    "per-node arg-max over neighbor labels), then two keyed rollups "
    "(internal weight, community strength) and a bounded "
    "per-community aggregate — never an all-pairs anything.",
)
def q_graph_modularity_score(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.graph import (
        label_propagation_iterations,
    )

    ev = events_table(spark, sf)
    e0 = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("w")
    )
    fwd = e0.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
        "w",
    )
    e = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).transform(ckpt)  # edge list built once (blast-radius rule)
    l2 = label_propagation_iterations(e, n_iters=2)
    wtot = e.agg(F.sum("w").cast("long").alias("big_w"))
    ls = l2.select(F.col("node").alias("src"), F.col("label").alias("src_label"))
    ld = l2.select(F.col("node").alias("dst"), F.col("label").alias("dst_label"))
    lbl = e.join(ls, "src").join(ld, "dst")
    internal = (
        lbl.filter(F.col("src_label") == F.col("dst_label"))
        .groupBy(F.col("src_label").alias("community"))
        .agg(F.sum("w").cast("long").alias("w_in"))
    )
    strength = (
        e.groupBy("src")
        .agg(F.sum("w").cast("long").alias("d"))
        .join(l2.select(F.col("node").alias("src"), "label"), "src")
        .groupBy(F.col("label").alias("community"))
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    terms = (
        strength.join(internal, "community", "left")
        .crossJoin(F.broadcast(wtot))
        .select(
            F.coalesce(F.col("w_in"), F.lit(0)).cast("long").alias("w_in"),
            "d_c",
            F.round(
                F.coalesce(F.col("w_in"), F.lit(0)) * 1.0 / F.col("big_w")
                - (F.col("d_c") * 1.0 / F.col("big_w"))
                * (F.col("d_c") * 1.0 / F.col("big_w")),
                9,
            )
            .cast("decimal(20,9)")
            .alias("q_term"),
        )
    )
    q = F.round(F.sum("q_term").cast("double"), 6)
    return terms.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum("w_in").cast("long").alias("internal_weight"),
        q.alias("modularity"),
        (q > 0.3).alias("well_partitioned"),
    )


# --- round-12 head start: return-visit interval profile -----------------------


@register(
    "events_return_intervals",
    """WITH ud AS (
         SELECT DISTINCT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day
         FROM events),
       gaps AS (
         SELECT user_id,
                day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
                  AS gap
         FROM ud),
       g AS (SELECT gap FROM gaps WHERE gap IS NOT NULL)
       SELECT gap AS gap_days,
              count(*)::BIGINT AS n_returns,
              round(count(*) * 1.0 / sum(count(*)) OVER (), 6)
                AS return_share
       FROM g GROUP BY gap""",
    doc="Return-visit interval profile: the distribution of day gaps "
    "between a user's consecutive ACTIVE DAYS (distinct, so multiple "
    "same-day events collapse) — the retention-shape histogram "
    "product teams read next to cohort_retention_matrix (which slices "
    "by signup cohort; this pools the comeback cadence: a spike at 7 "
    "means weekly habits, a fat tail means churn-and-resurrect) and "
    "the day-granular complement of stats_exponentiality_test's "
    "second-scale gaps. Exact integer counts; the share divides once "
    "per row over the bounded gap domain. Scale shape: one distinct "
    "(user, day) rollup, a user-partitioned lag window, one "
    "aggregate over the BOUNDED day-gap domain (gaps <= date span).",
)
def q_events_return_intervals(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    ud = (
        events_table(spark, sf)
        .select(
            "user_id", F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day")
        )
        .distinct()
    )
    gaps = ud.select(
        (
            F.col("day")
            - F.lag("day").over(Window.partitionBy("user_id").orderBy("day"))
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    c = gaps.groupBy(F.col("gap").alias("gap_days")).agg(
        F.count("*").cast("long").alias("n_returns")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return c.select(
        "gap_days",
        "n_returns",
        F.round(F.col("n_returns") * 1.0 / F.sum("n_returns").over(w_all), 6).alias(
            "return_share"
        ),
    )


# --- round-12 head start: seasonal Mann-Kendall --------------------------------


@register(
    "stats_seasonal_mann_kendall",
    f"""WITH {DAILY_CENTS_CTE},
       dd AS (SELECT day, x, (day % 7)::BIGINT AS season FROM d),
       s AS (SELECT sum(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)::BIGINT
                      AS s_stat
             FROM dd a JOIN dd b
               ON b.season = a.season AND b.day > a.day),
       per AS (SELECT season, count(*)::BIGINT AS n FROM dd GROUP BY season),
       ties AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
                  AS tie_term
                FROM (SELECT season, x, count(*)::BIGINT AS t
                      FROM dd GROUP BY season, x)
                WHERE t > 1),
       v AS (SELECT (sum(per.n * (per.n - 1) * (2 * per.n + 5))
                     - max(ties.tie_term)) / 18.0 AS var_s,
                    sum(per.n)::BIGINT AS n_points,
                    count(*)::BIGINT AS n_seasons
             FROM per CROSS JOIN ties)
       SELECT v.n_seasons, v.n_points, s.s_stat,
              round(v.var_s, 4) AS var_s,
              round(CASE WHEN s.s_stat > 0
                           THEN (s.s_stat - 1) / sqrt(v.var_s)
                         WHEN s.s_stat < 0
                           THEN (s.s_stat + 1) / sqrt(v.var_s)
                         ELSE 0.0 END, 4) AS z_stat,
              CASE WHEN s.s_stat > 0 THEN 'increasing'
                   WHEN s.s_stat < 0 THEN 'decreasing'
                   ELSE 'none' END AS trend
       FROM s, v""",
    doc="Seasonal (Hirsch-Slack) Mann-Kendall trend test on daily "
    "revenue with weekday seasons: the pair statistic S and its "
    "tie-corrected variance are computed WITHIN each day-of-week "
    "sub-series and summed — so a strong weekly cycle (Monday always "
    "beats Sunday) cannot masquerade as a monotone trend, which is "
    "exactly how plain stats_mann_kendall (monthly, cycle-free) "
    "breaks on sub-weekly data. Exact integer S over the "
    "day-domain-bounded within-season pair joins; variance sums the "
    "per-season [n(n-1)(2n+5)]/18 terms with the pooled tie "
    "correction; continuity-corrected z. Scale shape: one daily "
    "rollup (checkpointed), a season-keyed self-join over the "
    "bounded day table, constant-size arithmetic after.",
)
def q_stats_seasonal_mann_kendall(spark: SparkSession, sf: str):
    d = daily_cents(spark, sf)
    dd = d.select("day", "x", (F.col("day") % 7).cast("long").alias("season"))
    a = dd.select(
        F.col("season").alias("sa"), F.col("day").alias("da"), F.col("x").alias("xa")
    )
    b = dd.select(
        F.col("season").alias("sb"), F.col("day").alias("db"), F.col("x").alias("xb")
    )
    s = (
        a.join(b, (F.col("sb") == F.col("sa")) & (F.col("db") > F.col("da")))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    per = dd.groupBy("season").agg(F.count("*").cast("long").alias("n"))
    ties = (
        dd.groupBy("season", "x")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = per.crossJoin(F.broadcast(ties)).agg(
        (
            (
                F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5))
                - F.max("tie_term")
            )
            / 18.0
        ).alias("var_s"),
        F.sum("n").cast("long").alias("n_points"),
        F.count("*").cast("long").alias("n_seasons"),
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(0.0)
    )
    return s.crossJoin(F.broadcast(v)).select(
        "n_seasons",
        "n_points",
        "s_stat",
        F.round(F.col("var_s"), 4).alias("var_s"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# --- round-12 head start: hour-of-day seasonality profile ----------------------


@register(
    "events_hourly_seasonality",
    """WITH e AS (
         SELECT ((floor(epoch(ts))::BIGINT % 86400) // 3600)::BIGINT AS hr,
                round(value * 100)::BIGINT AS cents
         FROM events),
       h AS (SELECT hr, count(*)::BIGINT AS n_events,
                    sum(cents)::BIGINT AS revenue_cents
             FROM e GROUP BY hr),
       t AS (SELECT sum(n_events)::BIGINT AS nt,
                    sum(revenue_cents)::BIGINT AS rt
             FROM h),
       top3 AS (SELECT sum(n_events)::BIGINT AS n3 FROM (
                  SELECT n_events FROM h
                  ORDER BY n_events DESC, hr LIMIT 3))
       SELECT h.hr AS hour_utc, h.n_events, h.revenue_cents,
              round(h.n_events * 1.0 / t.nt, 6) AS event_share,
              round(h.revenue_cents * 1.0 / t.rt, 6) AS revenue_share,
              round(top3.n3 * 1.0 / t.nt, 6) AS top3_hour_concentration
       FROM h CROSS JOIN t CROSS JOIN top3""",
    doc="Hour-of-day (UTC) seasonality profile: event and revenue share "
    "per hour plus the top-3-hour concentration scalar — the "
    "intra-day load axis the catalog's daily rollups flatten away "
    "(capacity planning reads the peak-hour share; a bot wave shows "
    "as off-hours mass where humans sleep — the time-of-day "
    "companion to events_bot_score's per-user signals). Exact "
    "integer counts over the pinned 24-hour domain; the top-3 pick "
    "is a structural TakeOrdered (count desc, hour asc — total "
    "order), one rounded division per share. Scale shape: one "
    "scan-fused map-side-combinable 24-group aggregate + two 1-row "
    "broadcasts; flat at any event count.",
)
def q_events_hourly_seasonality(spark: SparkSession, sf: str):
    e = events_table(spark, sf).select(
        F.expr("CAST((ts_s % 86400) DIV 3600 AS BIGINT)").alias("hr"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    h = e.groupBy("hr").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    ).transform(ckpt)  # 24 rows; feeds totals + top3 + report
    t = h.agg(
        F.sum("n_events").cast("long").alias("nt"),
        F.sum("revenue_cents").cast("long").alias("rt"),
    )
    top3 = (
        h.orderBy(F.desc("n_events"), F.asc("hr"))
        .limit(3)
        .agg(F.sum("n_events").cast("long").alias("n3"))
    )
    return (
        h.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(top3))
        .select(
            F.col("hr").alias("hour_utc"),
            "n_events",
            "revenue_cents",
            F.round(F.col("n_events") * 1.0 / F.col("nt"), 6).alias(
                "event_share"
            ),
            F.round(F.col("revenue_cents") * 1.0 / F.col("rt"), 6).alias(
                "revenue_share"
            ),
            F.round(F.col("n3") * 1.0 / F.col("nt"), 6).alias(
                "top3_hour_concentration"
            ),
        )
    )


# --- round-11: neighbor-Jaccard link prediction ---------------------------------


@register(
    "graph_jaccard_link_scores",
    None,  # oracle assembled below (reuses the MinHash band-pair CTE)
    doc="Neighbor-Jaccard link prediction over the MinHash-LSH candidate "
    "graph: for every NON-adjacent doc pair with >= 2 common "
    "neighbors reached through degree<=16 pivots, J = cn / "
    "(deg_a + deg_b − cn) — the normalized companion to "
    "graph_common_neighbor_scores (raw counts favor high-degree "
    "nodes; Jaccard asks what FRACTION of the union neighborhood is "
    "shared) and graph_adamic_adar (which re-weights by pivot "
    "rarity). Degrees are the FULL adjacency degrees (one groupBy); "
    "only the wedge enumeration pivots through capped-degree nodes "
    "(super-node exclusion — an uncapped pivot of degree d "
    "contributes d²/2 wedges), the same documented relaxation as "
    "the AA/CN queries. Scale shape identical: edge list built once "
    "(banded LSH, localCheckpoint'ed), one self-equi-join through "
    "low-degree pivots, adjacency removed by anti-join, degree "
    "lookups via two broadcast-able joins on the bounded degree "
    "table.",
)
def q_graph_jaccard_link_scores(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    pairs = (
        lsh_candidate_pairs(
            lsh_band_keys(
                minhash_signatures(table(spark, sf, "documents")),
                rows_per_band=1,
            )
        )
        .select("doc_a", "doc_b")
        .transform(ckpt)
    )
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    deg = deg.transform(ckpt)  # bounded; feeds cap + 2 lookups
    low = deg.filter(F.col("deg") <= 16).select(F.col("u").alias("w"))
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("w")).join(low, "w")
    e2 = und.select(F.col("u").alias("w"), F.col("v").alias("b")).join(low, "w")
    wedges = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    cand = wedges.join(
        pairs,
        (wedges["a"] == pairs["doc_a"]) & (wedges["b"] == pairs["doc_b"]),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "cn",
            "deg_a",
            "deg_b",
            F.round(
                F.col("cn")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard_score"),
        )
    )


def _jaccard_link_oracle() -> str:
    from annotations_ingester_spark.plans.queries_scale import SIG_CTE

    return f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       und AS (
         SELECT doc_a AS u, doc_b AS v FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY u),
       low AS (SELECT u AS w FROM deg WHERE deg <= 16),
       wedges AS (
         SELECT e1.u AS a, e2.v AS b, count(*)::BIGINT AS cn
         FROM und e1 JOIN low l1 ON l1.w = e1.v
              JOIN und e2 ON e1.v = e2.u
         WHERE e1.u < e2.v GROUP BY 1, 2
         HAVING count(*) >= 2),
       cand AS (
         SELECT w.* FROM wedges w
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.doc_a = w.a AND p.doc_b = w.b))
       SELECT c.a AS doc_a, c.b AS doc_b, c.cn,
              da.deg AS deg_a, db.deg AS deg_b,
              round(c.cn / (da.deg + db.deg - c.cn)::DOUBLE, 6)
                AS jaccard_score
       FROM cand c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b"""


_REG["graph_jaccard_link_scores"].oracle = _jaccard_link_oracle()


# --- round-11 session-3: theta forecast, HITS, temporal holdout -----------------

_THETA_ALPHA = 0.2
_THETA_H = 7


@register(
    "timeseries_theta_forecast",
    f"""WITH RECURSIVE {DAILY_CENTS_CTE},
       o AS (SELECT x::DOUBLE AS x, row_number() OVER (ORDER BY day) AS t
             FROM d),
       fitg AS (SELECT count(*)::DOUBLE AS n, sum(t) AS st, sum(x) AS sx,
                       sum(t * t) AS stt, sum(t * x) AS stx
                FROM o),
       ab AS (SELECT round((stx - st * sx / n) / (stt - st * st / n), 9)
                       AS b,
                     round((sx - round((stx - st * sx / n)
                                       / (stt - st * st / n), 9) * st) / n,
                           9) AS a,
                     n::BIGINT AS n_days
              FROM fitg),
       z AS (SELECT o.t, round(2 * o.x - (ab.a + ab.b * o.t), 9) AS z
             FROM o CROSS JOIN ab),
       rec AS (
         SELECT 1 AS t, z AS l FROM z WHERE t = 1
         UNION ALL
         SELECT z.t,
                round({_THETA_ALPHA} * z.z
                      + (1 - {_THETA_ALPHA}) * rec.l, 9)
         FROM rec JOIN z ON z.t = rec.t + 1),
       fin AS (SELECT rec.l FROM rec JOIN ab ON rec.t = ab.n_days)
       SELECT h.h::BIGINT AS horizon_days, ab.n_days,
              round(ab.b, 4) AS trend_cents_per_day,
              round(fin.l, 4) AS ses_theta2_level,
              round(0.5 * ((ab.a + ab.b * (ab.n_days + h.h)) + fin.l), 4)
                AS forecast_cents
       FROM fin CROSS JOIN ab
       CROSS JOIN (SELECT unnest(range(1, {_THETA_H + 1})) AS h) h""",
    doc="Theta-method forecast (Assimakopoulos-Nikolopoulos, the M3 "
    "winner) of daily revenue: decompose into the theta=0 line (the "
    "OLS linear trend — long-run direction) and the theta=2 line "
    "(2x_t − trend — doubled local curvature), SES the theta=2 line "
    "(alpha=0.2, l_1=z_1), and forecast the average of the "
    "extrapolated trend and the flat SES level — consistently beats "
    "both parents on M-competition data and complements Holt "
    "(explicit trend state) and Holt-Winters (seasonality) in the "
    "forecast family. OLS via sufficient statistics; the SES "
    "recursion folds over the DATE-DOMAIN-bounded day array "
    "(9-dp-rounded per step, the Holt parity pattern — the oracle's "
    "recursive CTE computes identical arithmetic). Scale shape: one "
    "map-side-combinable daily rollup, one bounded-array fold, a "
    "7-row horizon fan.",
)
def q_timeseries_theta_forecast(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.plans.catalog import daily_cents

    a = _THETA_ALPHA
    d = daily_cents(spark, sf)
    fitg = d.select(
        F.col("x").cast("double").alias("x"),
        F.row_number().over(Window.orderBy("day")).cast("double").alias("t"),
    )
    suff = fitg.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("x")).alias("stx"),
    )
    b_expr = F.round(
        (F.col("stx") - F.col("st") * F.col("sx") / F.col("n"))
        / (F.col("stt") - F.col("st") * F.col("st") / F.col("n")),
        9,
    )
    ab = suff.select(
        b_expr.alias("b"),
        F.round((F.col("sx") - b_expr * F.col("st")) / F.col("n"), 9).alias("a"),
        F.col("n").cast("long").alias("n_days"),
    )
    arr = d.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, x))),"
            " s -> CAST(s.x AS DOUBLE))"
        ).alias("xs")
    )
    zfold = arr.crossJoin(F.broadcast(ab)).select(
        "n_days",
        "a",
        "b",
        F.expr(
            "transform(xs, (x, i) -> round(2 * x - (a + b * (i + 1)), 9))"
        ).alias("zs"),
    )
    fold = zfold.select(
        "n_days",
        "a",
        "b",
        F.expr(
            f"""aggregate(
              slice(zs, 2, size(zs) - 1),
              CAST(zs[0] AS DOUBLE),
              (acc, z) -> round({a} * z + (1 - {a}) * acc, 9))"""
        ).alias("l"),
    )
    return fold.select(
        F.explode(F.sequence(F.lit(1), F.lit(_THETA_H))).alias("horizon_days"),
        "n_days",
        "a",
        "b",
        "l",
    ).select(
        "horizon_days",
        "n_days",
        F.round(F.col("b"), 4).alias("trend_cents_per_day"),
        F.round(F.col("l"), 4).alias("ses_theta2_level"),
        F.round(
            0.5
            * (
                (F.col("a") + F.col("b") * (F.col("n_days") + F.col("horizon_days")))
                + F.col("l")
            ),
            4,
        ).alias("forecast_cents"),
    )


@register(
    "graph_hits_2iter",
    """WITH e AS (SELECT DISTINCT user_id, event_type FROM events),
       outd AS (SELECT user_id, count(*)::BIGINT AS od FROM e GROUP BY 1),
       ind AS (SELECT event_type, count(*)::BIGINT AS id_ FROM e GROUP BY 1),
       a2 AS (SELECT e.event_type, sum(outd.od)::BIGINT AS auth2
              FROM e JOIN outd USING (user_id) GROUP BY e.event_type),
       mx AS (SELECT max(auth2)::DOUBLE AS m FROM a2),
       nu AS (SELECT count(*)::BIGINT AS n_users FROM outd)
       SELECT a2.event_type, ind.id_ AS auth1_indegree, a2.auth2,
              round(a2.auth2 / mx.m, 6) AS auth2_norm,
              nu.n_users
       FROM a2 JOIN ind USING (event_type) CROSS JOIN mx CROSS JOIN nu""",
    doc="HITS hubs-and-authorities, two exact iterations over the "
    "directed user -> event_type bipartite graph (unit edges, "
    "distinct pairs): with h0 = a0 = 1, iteration 1 gives h1(u) = "
    "outdeg(u) and a1(t) = indeg(t); iteration 2's authority a2(t) = "
    "sum of h1 over t's in-neighbors = sum of user outdegrees — the "
    "mutually-reinforcing refinement that separates 'popular with "
    "engaged multi-type users' from raw indegree (pagerank_2iter's "
    "same-budget companion; Kleinberg's alternative authority "
    "notion). All scores are EXACT integers (sums of degree counts); "
    "only the max-normalization is rounded. Scale shape: one "
    "distinct on (user, type), two map-side-combinable degree "
    "rollups, one equi-join back through the edge list, a 1-row "
    "broadcast max — authorities are the bounded event-type domain.",
)
def q_graph_hits_2iter(spark: SparkSession, sf: str):
    e = (
        events_table(spark, sf)
        .select("user_id", "event_type")
        .distinct()
        .transform(ckpt)  # feeds both degree rollups + join
    )
    outd = e.groupBy("user_id").agg(F.count("*").cast("long").alias("od"))
    ind = e.groupBy("event_type").agg(F.count("*").cast("long").alias("auth1_indegree"))
    a2 = (
        e.join(outd, "user_id")
        .groupBy("event_type")
        .agg(F.sum("od").cast("long").alias("auth2"))
    )
    mx = a2.agg(F.max("auth2").cast("double").alias("m"))
    nu = outd.agg(F.count("*").cast("long").alias("n_users"))
    return (
        a2.join(F.broadcast(ind), "event_type")
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(nu))
        .select(
            "event_type",
            "auth1_indegree",
            "auth2",
            F.round(F.col("auth2") / F.col("m"), 6).alias("auth2_norm"),
            "n_users",
        )
    )


@register(
    "split_temporal_holdout",
    """WITH e AS (
         SELECT user_id,
                (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                round(value * 100)::BIGINT AS cents
         FROM events),
       b AS (SELECT min(day) AS d0,
                    (min(day) + ((max(day) - min(day)) * 4) // 5) AS cut,
                    max(day) AS d1
             FROM e),
       tagged AS (SELECT e.*, CASE WHEN e.day <= b.cut THEN 'train'
                                   ELSE 'test' END AS split,
                         b.d0, b.cut, b.d1
                  FROM e CROSS JOIN b),
       ov AS (SELECT count(*)::BIGINT AS n_overlap_users FROM (
                SELECT user_id FROM tagged WHERE split = 'train'
                INTERSECT
                SELECT user_id FROM tagged WHERE split = 'test') q)
       SELECT split,
              min(CASE WHEN split = 'train' THEN d0 ELSE cut + 1 END)
                ::BIGINT AS day_from,
              min(CASE WHEN split = 'train' THEN cut ELSE d1 END)
                ::BIGINT AS day_to,
              count(*)::BIGINT AS n_events,
              count(DISTINCT user_id)::BIGINT AS n_users,
              sum(cents)::BIGINT AS revenue_cents,
              min(ov.n_overlap_users)::BIGINT AS n_overlap_users
       FROM tagged CROSS JOIN ov GROUP BY split""",
    doc="Temporal holdout split — the fourth classic alongside "
    "split_hash_assign (random), split_stratified_sample, and "
    "split_group_holdout: the last fifth of the day span becomes the "
    "test window, matching how a trained model actually meets data "
    "(random splits leak future into past; eval_split_leakage_audit "
    "checks hash splits, this one quantifies the UNAVOIDABLE entity "
    "overlap of a temporal cut — n_overlap_users is the count of "
    "users active on both sides, the number to report next to any "
    "temporal-split metric). Scale shape: one broadcast 1-row bound "
    "frame, one tagged pass with map-side-combinable per-split "
    "aggregates, one distinct-intersect on user ids (keyed, "
    "spillable); no window, no data-sized join.",
)
def q_split_temporal_holdout(spark: SparkSession, sf: str):
    e = events_table(spark, sf).select(
        "user_id",
        F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    b = e.agg(
        F.min("day").alias("d0"),
        (F.min("day") + ((F.max("day") - F.min("day")) * 4 / 5).cast("long")).alias(
            "cut"
        ),
        F.max("day").alias("d1"),
    )
    tagged = e.crossJoin(F.broadcast(b)).withColumn(
        "split", F.when(F.col("day") <= F.col("cut"), "train").otherwise("test")
    )
    tagged = tagged.transform(ckpt)  # feeds overlap + aggregate
    tr_u = tagged.filter(F.col("split") == "train").select("user_id").distinct()
    te_u = tagged.filter(F.col("split") == "test").select("user_id").distinct()
    ov = tr_u.intersect(te_u).agg(
        F.count("*").cast("long").alias("n_overlap_users")
    )
    return (
        tagged.crossJoin(F.broadcast(ov))
        .groupBy("split")
        .agg(
            F.min(
                F.when(F.col("split") == "train", F.col("d0")).otherwise(
                    F.col("cut") + 1
                )
            )
            .cast("long")
            .alias("day_from"),
            F.min(
                F.when(F.col("split") == "train", F.col("cut")).otherwise(
                    F.col("d1")
                )
            )
            .cast("long")
            .alias("day_to"),
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.min("n_overlap_users").cast("long").alias("n_overlap_users"),
        )
    )


# --- round-12 session: frequency-domain seasonality, drawdowns, path
#     trigrams, burstiness/memory ----------------------------------------------

_SPECTRAL_MAX_PERIOD = 14


@register(
    "timeseries_spectral_peak",
    f"""WITH {DAILY_CENTS_CTE},
       m AS (SELECT min(day)::BIGINT AS d0, count(*)::BIGINT AS n,
                    sum(x)::BIGINT AS s1,
                    sum(x::DECIMAL(38,0) * x)::DECIMAL(38,0) AS s2
             FROM d),
       c AS (SELECT (d.day - m.d0)::BIGINT AS t,
                    d.x - m.s1 * 1.0 / m.n AS xc,
                    m.n, m.s1, m.s2
             FROM d, m),
       fan AS (SELECT p.p, c.t, c.xc, c.n, c.s1, c.s2
               FROM c, (SELECT unnest(range(2, {_SPECTRAL_MAX_PERIOD + 1}))
                          AS p) p),
       pw AS (SELECT p, max(n) AS n,
                     power(sum(xc * cos(2 * pi() * t / p)), 2)
                     + power(sum(xc * sin(2 * pi() * t / p)), 2) AS pwr,
                     CAST(max(s2) AS DOUBLE)
                     - max(s1) * (max(s1) * 1.0 / max(n)) AS sst
              FROM fan GROUP BY p),
       nrm AS (SELECT p::BIGINT AS period,
                      round(pwr / (n * sst), 6) AS power_frac
               FROM pw),
       mx AS (SELECT max(power_frac) AS top FROM nrm)
       SELECT period, power_frac,
              power_frac = mx.top AS is_peak
       FROM nrm, mx""",
    doc="Periodogram peak detection over the daily-revenue series: for "
    "each candidate period p in 2..14 days, the Schuster intensity "
    "(sum xc*cos(2pi t/p))^2 + (sum xc*sin)^2 of the mean-centered "
    "series, NORMALIZED by n*SST so the statistic is the fraction-of-"
    "variance scale (bounded O(1), where cross-engine cos/sin ulp "
    "noise is 1e-15 relative — rounding-safe; raw power at cents "
    "scale is ~1e12 where it would not be). The frequency-domain "
    "evidence that complements events_hourly_seasonality / "
    "timeseries_seasonal_strength in the time domain: whichever "
    "period dominates carries the peak flag. t comes from day - "
    "min(day) (gap-correct), never a row_number — no window "
    "anywhere; SST from exact BIGINT/DECIMAL sums. Scale shape: one "
    "daily rollup, a 13-way period fan over the ~30-row day table, "
    "one 13-group aggregate, two 1-row broadcasts.",
)
def q_timeseries_spectral_peak(spark: SparkSession, sf: str):
    d = daily_cents(spark, sf)
    m = d.agg(
        F.min("day").cast("long").alias("d0"),
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    c = d.crossJoin(F.broadcast(m)).select(
        (F.col("day") - F.col("d0")).cast("long").alias("t"),
        (F.col("x") - F.col("s1") * 1.0 / F.col("n")).alias("xc"),
        "n",
        "s1",
        "s2",
    )
    fan = c.select(
        "*",
        F.explode(
            F.sequence(F.lit(2), F.lit(_SPECTRAL_MAX_PERIOD))
        ).alias("p"),
    )
    ang = 2 * F.lit(math.pi) * F.col("t") / F.col("p")
    pw = fan.groupBy("p").agg(
        F.max("n").alias("n"),
        (
            F.pow(F.sum(F.col("xc") * F.cos(ang)), 2)
            + F.pow(F.sum(F.col("xc") * F.sin(ang)), 2)
        ).alias("pwr"),
        (
            F.max("s2").cast("double")
            - F.max("s1") * (F.max("s1") * 1.0 / F.max("n"))
        ).alias("sst"),
    )
    nrm = pw.select(
        F.col("p").cast("long").alias("period"),
        F.round(F.col("pwr") / (F.col("n") * F.col("sst")), 6).alias(
            "power_frac"
        ),
    )
    mx = nrm.agg(F.max("power_frac").alias("top"))
    return nrm.crossJoin(F.broadcast(mx)).select(
        "period",
        "power_frac",
        (F.col("power_frac") == F.col("top")).alias("is_peak"),
    )


@register(
    "timeseries_drawdown_stats",
    f"""WITH {DAILY_CENTS_CTE},
       rm AS (SELECT day, x,
                     max(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                       AS peak,
                     row_number() OVER (ORDER BY day) AS rn
              FROM d),
       dd AS (SELECT day, x, peak, rn,
                     round((peak - x) * 1.0 / peak, 6) AS draw,
                     CASE WHEN x < peak THEN 1 ELSE 0 END AS under
              FROM rm),
       isl AS (SELECT under,
                      rn - row_number() OVER (PARTITION BY under
                                              ORDER BY rn) AS grp
               FROM dd),
       runs AS (SELECT count(*)::BIGINT AS len FROM isl
                WHERE under = 1 GROUP BY grp),
       mx AS (SELECT max(draw) AS max_draw FROM dd)
       SELECT (SELECT count(*) FROM dd)::BIGINT AS n_days,
              mx.max_draw AS max_drawdown_frac,
              (SELECT min(day) FROM dd, mx
               WHERE dd.draw = mx.max_draw)::BIGINT AS max_drawdown_day,
              coalesce((SELECT max(len) FROM runs), 0)::BIGINT
                AS longest_underwater_days
       FROM mx""",
    doc="Drawdown audit of the daily-revenue series: running peak, "
    "maximum peak-to-trough drawdown fraction (with the day it "
    "bottomed — min day on ties, deterministic in both engines), and "
    "the longest consecutive underwater run (days strictly below the "
    "running peak, gaps-and-islands on the day-ordered frame). The "
    "operational 'how bad did it get and for how long' summary that "
    "complements point anomalies (timeseries_zscore_anomalies) and "
    "level changes (events_changepoint_cusum) — a slow bleed trips "
    "none of those but shows up here as a long underwater run. "
    "Scale shape: windows run over the ~30-row date-domain rollup "
    "(the holt/EWMA class), constant-size aggregates after.",
)
def q_timeseries_drawdown_stats(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = daily_cents(spark, sf)
    w = Window.orderBy("day")
    rm = d.select(
        "day",
        "x",
        F.max("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("peak"),
        F.row_number().over(w).alias("rn"),
    )
    dd = rm.select(
        "day",
        "x",
        "rn",
        F.round((F.col("peak") - F.col("x")) * 1.0 / F.col("peak"), 6).alias(
            "draw"
        ),
        F.when(F.col("x") < F.col("peak"), 1).otherwise(0).alias("under"),
    ).transform(ckpt)  # ~30 rows; consumed by 4 scalar legs
    isl = dd.select(
        "under",
        (
            F.col("rn")
            - F.row_number().over(Window.partitionBy("under").orderBy("rn"))
        ).alias("grp"),
    )
    runs = (
        isl.filter(F.col("under") == 1)
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("len"))
    )
    mx = dd.agg(F.max("draw").alias("max_draw"))
    n_days = dd.agg(F.count("*").cast("long").alias("n_days"))
    bottom = (
        dd.crossJoin(F.broadcast(mx.select(F.col("max_draw").alias("_md"))))
        .filter(F.col("draw") == F.col("_md"))
        .agg(F.min("day").cast("long").alias("max_drawdown_day"))
    )
    longest = runs.agg(
        F.coalesce(F.max("len"), F.lit(0)).cast("long").alias(
            "longest_underwater_days"
        )
    )
    return (
        n_days.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(bottom))
        .crossJoin(F.broadcast(longest))
        .select(
            "n_days",
            F.col("max_draw").alias("max_drawdown_frac"),
            "max_drawdown_day",
            "longest_underwater_days",
        )
    )


@register(
    "events_path_trigrams",
    """WITH e AS (
         SELECT user_id, event_type,
                floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       seq AS (
         SELECT user_id, event_type AS t1,
                lead(event_type, 1) OVER w AS t2,
                lead(event_type, 2) OVER w AS t3
         FROM e WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts_s, event_id)),
       tri AS (SELECT user_id, t1, t2, t3 FROM seq
               WHERE t2 IS NOT NULL AND t3 IS NOT NULL)
       SELECT t1, t2, t3,
              count(*)::BIGINT AS n_occurrences,
              count(DISTINCT user_id)::BIGINT AS n_users
       FROM tri GROUP BY t1, t2, t3""",
    doc="Behavioral path mining one order above the Markov family: "
    "every consecutive event-type TRIGRAM per user journey with "
    "corpus frequency and user reach. events_markov_transitions "
    "models memoryless hops; trigram counts expose second-order "
    "structure (view->click->purchase vs view->click->error are "
    "indistinguishable at bigram level) — the funnel-hypothesis "
    "generator feeding funnel_conversion_steps. Ordering is pinned "
    "(ts, event_id) so the sequence is deterministic under "
    "same-second ties in any engine. Scale shape: one user-"
    "partitioned two-lead window (the sessionization class), one "
    "map-side-combinable rollup to the bounded type^3 key space "
    "(<= 125 rows at any sf).",
)
def q_events_path_trigrams(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select(
        "user_id", "event_type", F.col("ts_s"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    tri = seq.filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return tri.groupBy("t1", "t2", "t3").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "events_burstiness_memory",
    """WITH e AS (
         SELECT event_type, floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       g AS (
         SELECT event_type,
                ts_s - lag(ts_s) OVER w AS tau,
                lead(ts_s) OVER w - ts_s AS tau_next
         FROM e WINDOW w AS (PARTITION BY event_type
                             ORDER BY ts_s, event_id)),
       s AS (
         SELECT event_type,
                count(tau)::BIGINT AS n_gaps,
                sum(tau)::BIGINT AS s1,
                sum(tau::DECIMAL(38,0) * tau)::DECIMAL(38,0) AS s2
         FROM g WHERE tau IS NOT NULL GROUP BY event_type),
       pairs AS (
         SELECT event_type,
                count(*)::BIGINT AS np,
                sum(tau)::BIGINT AS pa, sum(tau_next)::BIGINT AS pb,
                sum(tau::DECIMAL(38,0) * tau)::DECIMAL(38,0) AS paa,
                sum(tau_next::DECIMAL(38,0) * tau_next)::DECIMAL(38,0) AS pbb,
                sum(tau::DECIMAL(38,0) * tau_next)::DECIMAL(38,0) AS pab
         FROM g WHERE tau IS NOT NULL AND tau_next IS NOT NULL
         GROUP BY event_type),
       k AS (
         SELECT s.event_type, s.n_gaps,
                s.s1 * 1.0 / s.n_gaps AS mu,
                sqrt((CAST(s.s2 AS DOUBLE)
                      - s.s1 * (s.s1 * 1.0 / s.n_gaps)) / s.n_gaps) AS sd,
                CAST(p.np * p.pab - p.pa::DECIMAL(38,0) * p.pb AS DOUBLE)
                  / sqrt(CAST(p.np * p.paa - p.pa::DECIMAL(38,0) * p.pa
                              AS DOUBLE)
                         * CAST(p.np * p.pbb - p.pb::DECIMAL(38,0) * p.pb
                                AS DOUBLE)) AS mem
         FROM s JOIN pairs p USING (event_type))
       SELECT event_type, n_gaps,
              round((sd - mu) / (sd + mu), 6) AS burstiness,
              round(mem, 6) AS memory_coef
       FROM k""",
    doc="Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) and the "
    "memory coefficient M (Pearson correlation of consecutive "
    "inter-arrival gaps) per event type: the two-parameter "
    "fingerprint separating Poisson traffic (B~0, M~0) from bursty "
    "human/bot activity — the distributional characterization behind "
    "events_bot_score's per-user heuristic and the model-choice "
    "gate for events_interarrival_stats' exponential assumption "
    "(stats_exponentiality_test tests it; B/M say HOW it fails). "
    "Gaps are exact integer seconds from a type-partitioned "
    "lag/lead window ((ts, event_id)-ordered — the gap sequence is "
    "tie-permutation invariant); both statistics come from exact "
    "BIGINT/DECIMAL power sums, population sigma. Scale shape: one "
    "partitioned window, two map-side-combinable per-type "
    "aggregates, a 5-row join.",
)
def q_events_burstiness_memory(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    e = events_table(spark, sf).select("event_type", "ts_s", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts_s", "event_id")
    g = e.select(
        "event_type",
        (F.col("ts_s") - F.lag("ts_s").over(w)).alias("tau"),
        (F.lead("ts_s").over(w) - F.col("ts_s")).alias("tau_next"),
    ).transform(ckpt)  # narrow 3-col gap frame; feeds 2 aggs
    dd = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = (
        g.filter(F.col("tau").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("tau").cast("long").alias("n_gaps"),
            F.sum("tau").cast("long").alias("s1"),
            F.sum(dd("tau") * F.col("tau")).cast("decimal(38,0)").alias("s2"),
        )
    )
    p = (
        g.filter(F.col("tau").isNotNull() & F.col("tau_next").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("np"),
            F.sum("tau").cast("long").alias("pa"),
            F.sum("tau_next").cast("long").alias("pb"),
            F.sum(dd("tau") * F.col("tau")).cast("decimal(38,0)").alias("paa"),
            F.sum(dd("tau_next") * F.col("tau_next"))
            .cast("decimal(38,0)")
            .alias("pbb"),
            F.sum(dd("tau") * F.col("tau_next"))
            .cast("decimal(38,0)")
            .alias("pab"),
        )
    )
    mu = F.col("s1") * 1.0 / F.col("n_gaps")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1") * mu) / F.col("n_gaps")
    )
    np_ = F.col("np")
    mem = (np_ * F.col("pab") - dd("pa") * F.col("pb")).cast("double") / F.sqrt(
        (np_ * F.col("paa") - dd("pa") * F.col("pa")).cast("double")
        * (np_ * F.col("pbb") - dd("pb") * F.col("pb")).cast("double")
    )
    return s.join(p, "event_type").select(
        "event_type",
        "n_gaps",
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
        F.round(mem, 6).alias("memory_coef"),
    )
