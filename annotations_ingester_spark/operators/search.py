"""Full-text relevance scoring: BM25 ranking and TF-IDF term extraction.

The reference's store IS a search engine — its S2 "limited search scan"
returns hits in Lucene BM25 order (es_common.py:141-160 search API). This
module re-expresses that scoring declaratively so ranked retrieval works on
the parquet backend too:

- ``bm25_rank``: the Lucene/ES BM25 formula
  (idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
  tf_norm = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), k1=1.2, b=0.75)
  over a literal query-term set.
- ``tfidf_top_terms``: per-document top-N characteristic terms
  (tf · ln(N/df)) — the corpus-exploration twin.

Scale shape (BM25): one narrow projection per document holds its length
and one term count per query term (a ``filter`` over its token array, no
explode), so tf needs no shuffle; corpus stats (N, avgdl) and the
document frequencies are one 1-row global aggregate over that projection,
broadcast back onto the documents that contain a query term. All
arithmetic happens on exact integer counts JVM-side; one rounding point
keeps ranks engine-portable.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from annotations_ingester_spark.functions import text as tx

BM25_K1 = 1.2
BM25_B = 0.75


def _doc_terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col), tx.tokens(text_col).alias("_tk")).filter(
        F.size("_tk") > 0
    )


def _equals(term: str):
    """``x -> x = term`` for ``F.filter``; a factory, since a lambda with a
    default argument would be read as ``(x, index)``."""
    return lambda x: x == F.lit(term)


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for ``query_terms`` →
    (doc_id, score, rank). ``id_col`` must be a key of ``df``: each row is
    scored as its own document. Repeated query terms count once; an empty
    term list returns no rows. Deterministic total order: rounded score
    desc, id asc. The top-k itself is ``orderBy(...).limit(k)`` which Spark
    compiles to ``TakeOrderedAndProject`` — a per-partition partial top-k
    plus a tiny k-row merge, so no partition ever holds more than k rows
    no matter how many documents match a term. ``rank`` is then derived by
    a window over only the ≤k surviving rows."""
    terms = list(dict.fromkeys(query_terms))
    tfs = [F.col(f"_tf{i}") for i in range(len(terms))]
    # one narrow row per doc: its length and one count per query term
    counts = _doc_terms(df, text_col, id_col).select(
        F.col(id_col),
        F.size("_tk").cast("double").alias("dl"),
        *(
            F.size(F.filter("_tk", _equals(t))).cast("double").alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ),
    )
    stats = counts.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *(F.count_if(tf > 0).cast("double").alias(f"_df{i}") for i, tf in enumerate(tfs)),
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    # per-term contributions round to 9 dp and sum as DECIMAL(20,9) (the
    # lm_perplexity float discipline): a double sum's rounding would make
    # a last-ulp tie flip top-k membership across engines
    total = F.lit(0).cast("decimal(20,9)")
    for i, tf in enumerate(tfs):
        df_i = F.col(f"_df{i}")
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - df_i + 0.5) / (df_i + 0.5))
        tfn = (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * F.col("dl") / avgdl))
        total = total + F.when(tf > 0, F.round(idf * tfn, 9).cast("decimal(20,9)")).otherwise(0)
    scored = (
        counts.filter(reduce(operator.or_, (tf > 0 for tf in tfs), F.lit(False)))
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(total.cast("double"), 6).alias("score"))
    )
    # Distributed partial top-k (TakeOrderedAndProject), NOT a global
    # window: a window with no partitionBy would move every matching doc
    # into one task. Rank is computed after the limit, over ≤k rows.
    topk = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``top_n`` terms by tf·idf (idf = ln(N/df)) →
    (doc_id, term, tfidf, term_rank). df is a per-term aggregate joined
    back on term (equi-join shuffle — at corpus scale the vocabulary is
    zipfian, and AQE's skew handling covers the hot stopword keys)."""
    base = _doc_terms(df, text_col, id_col)
    tf = (
        base.select(F.col(id_col), F.explode("_tk").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("double").alias("tf"))
        # tf feeds dfreq AND the score join — lazy checkpoint so the
        # tokenize+explode pass runs once (same re-derivation class and
        # measured mode as dsir in the r13 log)
        .localCheckpoint(eager=False)
    )
    # every doc with >= 1 token owns >= 1 tf row, so N derives from the
    # checkpointed tf — removes the third full tokenize pass the separate
    # count scan paid (value identical by construction)
    n_docs = tf.agg(F.count_distinct(F.col(id_col)).cast("double").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= top_n)
        .select(id_col, "term", "tfidf", "term_rank")
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval lists →
    ``(doc_id, rank_1..rank_N, rrf, fused_rank)``.

    RRF (Cormack/Clarke/Büttcher, SIGIR'09): score(d) = Σ 1/(k + rank_i(d))
    over the lists that contain d — the standard hybrid-retrieval combiner
    (e.g. BM25 keyword list ⊕ embedding-cosine list) because it needs no
    score calibration between heterogeneous scorers, only ranks.

    Scale shape: each input is already a bounded top-k list (≤ a few
    hundred rows), so the fusion is a join of tiny frames — the heavy
    lifting happened in the per-list retrieval. Output order is total:
    rounded rrf desc, id asc.
    """
    if not ranked_lists:
        raise ValueError("ranked_lists must be non-empty")
    fused = None
    rank_names = []
    for i, lst in enumerate(ranked_lists, start=1):
        name = f"rank_{i}"
        rank_names.append(name)
        side = lst.select(F.col(id_col), F.col(rank_col).cast("long").alias(name))
        fused = side if fused is None else fused.join(side, id_col, "full_outer")
    contributions = [
        F.coalesce(1.0 / (F.lit(float(k)) + F.col(n)), F.lit(0.0)) for n in rank_names
    ]
    scored = fused.withColumn(
        "rrf", F.round(sum(contributions[1:], contributions[0]), 6)
    )
    top = scored.orderBy(F.col("rrf").desc(), F.col(id_col)).limit(top_n)
    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col))
    return top.withColumn("fused_rank", F.row_number().over(w).cast("long"))


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 25,
) -> DataFrame:
    """Inverted-index construction: one row per term with its document
    frequency and a canonical postings string ``"doc:first_pos,..."``
    (first occurrence position per document, 0-based, sorted by doc id) —
    the batch-built index a search tier (BM25 above) serves from.

    Restricting to ``df ≥ min_df`` keeps the output the head of the
    vocabulary; the long tail would be emitted unchanged (no plan change),
    this is an output-volume knob only.

    Scale shape: posexplode → two hash aggregations (term+doc, then term).
    The per-term ``collect_list`` holds one (doc, pos) pair per MATCHING
    document — bounded by df, the same bound any posting list has; a
    production sink would range-partition terms so hot stopword terms land
    in their own partitions (or be dropped by a stopword gate upstream).
    Sorting happens inside ``array_sort`` per term (no global sort), and
    the string rendering is pure codegen (`transform` + `array_join`).
    """
    pos = df.select(
        F.col(id_col), F.posexplode(tx.tokens(text_col)).alias("p", "term")
    )
    first = pos.groupBy("term", id_col).agg(F.min("p").alias("fp"))
    return (
        first.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col("fp")))),
                    lambda s: F.concat_ws(":", s[id_col].cast("string"), s["fp"].cast("string")),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )
