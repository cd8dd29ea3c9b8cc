"""Ranked-retrieval queries: BM25 match ranking (the parquet-backend twin
of the reference store's Lucene scoring, es_common.py:141-160) and TF-IDF
characteristic terms — each with an exact DuckDB oracle over the identical
integer tf/df/dl counts and one shared rounding point."""

from __future__ import annotations

from pyspark.sql import SparkSession

from annotations_ingester_spark.functions import text as tx
from annotations_ingester_spark.operators.search import bm25_rank, tfidf_top_terms
from annotations_ingester_spark.plans.catalog import register, table

TOKS = tx.tokens_sql("text")
QUERY_TERMS = ["spark", "join", "window"]
_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

# Shared BM25 ranked-list CTE chain (the hybrid RRF query fuses the same
# keyword list with a vector list, so both oracles must score identically).
_BM25_CTE = f"""base AS (
         SELECT doc_id, {TOKS} AS t FROM documents),
       b2 AS (SELECT doc_id, t FROM base WHERE len(t) > 0),
       dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM b2),
       stats AS (SELECT count(*)::DOUBLE AS n_docs, sum(dl) AS sum_dl FROM dl),
       tf AS (
         SELECT doc_id, u.term, count(*)::DOUBLE AS tf
         FROM (SELECT doc_id, unnest(t) AS term FROM b2) u
         WHERE u.term IN ({_TERMS_SQL})
         GROUP BY doc_id, u.term),
       dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       scored AS (
         SELECT tf.doc_id,
                round(CAST(sum(round(
                  ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                  (tf.tf * 2.2) /
                  (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (s.sum_dl / s.n_docs)))
                , 9)::DECIMAL(20,9)) AS DOUBLE), 6) AS score
         FROM tf
         JOIN dl USING (doc_id)
         JOIN dfreq d USING (term), stats s
         GROUP BY tf.doc_id),
       ranked AS (
         SELECT doc_id, score,
                row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank
         FROM scored)"""


@register(
    "bm25_match_ranking",
    f"""WITH {_BM25_CTE}
       SELECT doc_id, score, rank FROM ranked WHERE rank <= 20""",
    doc="BM25 top-20 for a literal term set (Lucene/ES scoring parity, "
    "k1=1.2 b=0.75): one per-doc projection of dl and a tf count per query "
    "term, corpus stats and df as one broadcast 1-row aggregate over it, "
    "one rounding point before the bounded global rank.",
)
def q_bm25(spark: SparkSession, sf: str):
    return bm25_rank(table(spark, sf, "documents"), QUERY_TERMS, k=20)


@register(
    "tfidf_top_terms",
    f"""WITH base AS (
         SELECT doc_id, {TOKS} AS t FROM documents),
       b2 AS (SELECT doc_id, t FROM base WHERE len(t) > 0),
       nd AS (SELECT count(*)::DOUBLE AS n_docs FROM b2),
       tf AS (
         SELECT doc_id, u.term, count(*)::DOUBLE AS tf
         FROM (SELECT doc_id, unnest(t) AS term FROM b2) u
         GROUP BY doc_id, u.term),
       dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       scored AS (
         SELECT tf.doc_id, tf.term,
                round(tf.tf * ln(nd.n_docs / d.df), 6) AS tfidf
         FROM tf JOIN dfreq d USING (term), nd),
       ranked AS (
         SELECT doc_id, term, tfidf,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term)::BIGINT AS term_rank
         FROM scored)
       SELECT doc_id, term, tfidf, term_rank FROM ranked WHERE term_rank <= 3""",
    doc="Per-doc top-3 characteristic terms by tf·ln(N/df): one token "
    "explode, two aggregates, df equi-join (AQE skew-safe for zipfian "
    "vocabularies), deterministic (score, term) tie-break.",
)
def q_tfidf(spark: SparkSession, sf: str):
    return tfidf_top_terms(table(spark, sf, "documents"), top_n=3)


_COS = (
    "round(CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) > 0"
    " THEN list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
    " ELSE 0.0 END, 6)"
)


@register(
    "hybrid_rrf_retrieval",
    f"""WITH {_BM25_CTE},
       bm AS (SELECT doc_id, rank FROM ranked WHERE rank <= 50),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       sv AS (
         SELECT e.vec_id AS doc_id,
                {_COS.replace('cv', 'e.v')} AS cos
         FROM e, q WHERE e.vec_id <> 0),
       vr AS (
         SELECT doc_id,
                row_number() OVER (ORDER BY cos DESC, doc_id)::BIGINT AS rank
         FROM sv),
       vv AS (SELECT doc_id, rank FROM vr WHERE rank <= 50),
       fused AS (
         SELECT coalesce(bm.doc_id, vv.doc_id) AS doc_id,
                bm.rank AS rank_1, vv.rank AS rank_2,
                round(coalesce(1.0 / (60 + bm.rank), 0)
                      + coalesce(1.0 / (60 + vv.rank), 0), 6) AS rrf
         FROM bm FULL OUTER JOIN vv ON bm.doc_id = vv.doc_id),
       top AS (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)
       SELECT doc_id, rank_1, rank_2, rrf,
              row_number() OVER (ORDER BY rrf DESC, doc_id)::BIGINT AS fused_rank
       FROM top""",
    doc="Hybrid retrieval via reciprocal-rank fusion (SIGIR'09, k=60): the "
    "BM25 keyword top-50 fused with the embedding-cosine top-50 for a "
    "fixed query vector (vec_id 0; doc_id↔vec_id is the corpus link). RRF "
    "needs no score calibration between the heterogeneous scorers — only "
    "ranks — which is why production hybrid search uses it. The expensive "
    "parts are the per-list retrievals (each already distributed + "
    "bounded top-k); the fusion itself joins two ≤50-row lists.",
)
def q_hybrid_rrf(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    from annotations_ingester_spark.operators.search import rrf_fuse
    from annotations_ingester_spark.operators.similarity import brute_force_topk

    docs = table(spark, sf, "documents")
    bm = bm25_rank(docs, QUERY_TERMS, k=50).select("doc_id", "rank")
    emb = table(spark, sf, "embeddings")
    vec = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=50)
        .select(F.col("vec_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([bm, vec], id_col="doc_id", k=60, top_n=20)


@register(
    "search_phrase_positions",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       p AS (
         SELECT doc_id, unnest(t) AS term,
                unnest(range(1, len(t) + 1)) AS pos
         FROM d),
       p1 AS (SELECT doc_id, pos FROM p WHERE term = 'table'),
       p2 AS (SELECT doc_id, pos FROM p WHERE term = 'hash')
       SELECT p1.doc_id, count(*)::BIGINT AS n_matches,
              min(p1.pos)::BIGINT AS first_pos
       FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
       GROUP BY p1.doc_id""",
    doc="Phrase query over the POSITIONAL index — the operation that "
    "separates an inverted index from a bag of words: the phrase "
    "'table hash' matches where the two terms' postings intersect on "
    "(doc, adjacent positions), evaluated as an equi-join of the two "
    "term posting streams on (doc_id, pos+1) — never a text re-scan "
    "(inverted_index_postings builds the index artifact; this is its "
    "query side). Emits per-doc match count and first occurrence. "
    "Scale shape: the term predicate prunes the exploded token stream "
    "map-side to two slim posting lists (rare-term postings ≪ corpus), "
    "then one doc+position equi-join; at 100 TB this is the classic "
    "rarest-term-first intersection every search engine runs.",
)
def q_search_phrase(spark: SparkSession, sf: str):
    from pyspark.sql import functions as F

    d = table(spark, sf, "documents").select(
        "doc_id", F.posexplode(tx.tokens("text")).alias("pos0", "term")
    )
    p = d.select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    p1 = p.filter(F.col("term") == "table").select("doc_id", "pos")
    # explicit renames: both posting streams share the exploded lineage,
    # so a bare doc_id == doc_id would resolve trivially-true
    p2 = p.filter(F.col("term") == "hash").select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("pos2")
    )
    return (
        p1.join(
            p2,
            (F.col("doc_id") == F.col("doc_id2"))
            & (F.col("pos2") == F.col("pos") + 1),
        )
        .select("doc_id", "pos")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


# the pinned EN stopword set (functions/text.LANG_STOPWORDS) — RAKE's
# phrase delimiters, shared as literals by both engines
_RAKE_STOPS = ("the", "and", "of", "to", "a", "in", "is", "it")


@register(
    "text_rake_keywords",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       p AS (
         SELECT doc_id, unnest(t) AS tok,
                unnest(range(1, len(t) + 1)) AS pos
         FROM d),
       ns AS (
         SELECT doc_id, tok, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS island
         FROM p WHERE tok NOT IN {repr(tuple(_RAKE_STOPS))}),
       ph AS (SELECT doc_id, island, count(*)::BIGINT AS plen
              FROM ns GROUP BY doc_id, island),
       wp AS (SELECT ns.tok, ph.plen
              FROM ns JOIN ph USING (doc_id, island)),
       agg AS (SELECT tok, count(*)::BIGINT AS freq,
                      sum(plen)::BIGINT AS degree
               FROM wp GROUP BY tok)
       SELECT tok AS keyword, freq, degree,
              round(CAST(degree AS DOUBLE) / freq, 6) AS rake_score
       FROM agg
       ORDER BY rake_score DESC, degree DESC, keyword LIMIT 20""",
    doc="RAKE keyword extraction (Rose et al.'s rapid automatic keyword "
    "method): stopwords delimit candidate phrases, consecutive "
    "non-stopword runs become phrases via gaps-and-islands (pos - "
    "per-doc rank is constant exactly across a run), and each word "
    "scores degree/frequency — degree sums the lengths of every phrase "
    "the word appears in, rewarding words that live in long "
    "collocations over merely frequent ones (the content-word "
    "complement of tfidf_top_terms). Top-20 is TakeOrderedAndProject "
    "under a total (score, degree, keyword) order. Scale shape: one "
    "doc-partitioned position window + two map-side-combinable "
    "aggregates; the phrase join is per-doc equi on (doc, island).",
)
def q_text_rake(spark: SparkSession, sf: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    p = table(spark, sf, "documents").select(
        "doc_id", F.posexplode(tx.tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    ns = p.filter(~F.col("tok").isin(*_RAKE_STOPS)).withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    ph = ns.groupBy("doc_id", "island").agg(
        F.count("*").cast("long").alias("plen")
    )
    wp = ns.join(ph, ["doc_id", "island"]).select("tok", "plen")
    agg = wp.groupBy("tok").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    return (
        agg.select(
            F.col("tok").alias("keyword"),
            "freq",
            "degree",
            F.round(F.col("degree").cast("double") / F.col("freq"), 6).alias(
                "rake_score"
            ),
        )
        .orderBy(F.desc("rake_score"), F.desc("degree"), F.asc("keyword"))
        .limit(20)
    )
