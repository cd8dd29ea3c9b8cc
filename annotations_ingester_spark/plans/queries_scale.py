"""North-star queries: large-scale training-data operators (BASELINE.json)
— dedup (exact / bag / MinHash+LSH / SimHash / n-gram Jaccard), embedding
similarity search (brute-force + bucketed ANN), and text analysis — each
with an exact DuckDB oracle built on the portable md5 hash family.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from annotations_ingester_spark.functions import text as tx
from annotations_ingester_spark.functions.vectors import (
    quantize_int8_sql,
    sign_bucket_sql,
)
from annotations_ingester_spark.operators.dedup import (
    bag_fingerprints,
    exact_duplicate_groups,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from annotations_ingester_spark.operators.similarity import brute_force_topk, bucketed_topk
from annotations_ingester_spark.plans.catalog import (
    ckpt,
    register,
    run_concurrently,
    table,
    table_schema,
)
from annotations_ingester_spark.sinks.layout import write_bucketed

# ---- shared DuckDB fragments ------------------------------------------------

TOKS = tx.tokens_sql("text")
HASH = "('0x' || substr(md5({e}), 1, 15))::BIGINT"
SHINGLES = (
    "list_transform(range(1, greatest(len(t) - 2, 0) + 1),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)
COS = (
    "round(CASE WHEN sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)) > 0"
    " THEN list_dot_product(qe, ce) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))"
    " ELSE 0.0 END, 6)"
)

SIG_CTE = f"""d AS (
    SELECT doc_id, {TOKS} AS t FROM documents
  ), d2 AS (
    SELECT doc_id, {SHINGLES} AS sh FROM d WHERE len(t) >= 3
  ), shx AS (
    SELECT doc_id, {HASH.format(e="u.shingle")} AS h
    FROM (SELECT doc_id, unnest(sh) AS shingle FROM d2) u
  ), sig AS (
    SELECT doc_id, s.seed,
           min(xor(h, {HASH.format(e="s.seed::VARCHAR")})) AS minhash
    FROM shx, (SELECT unnest(range(0, 8)) AS seed) s
    GROUP BY doc_id, s.seed)"""


# ---- dedup ------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
       FROM documents GROUP BY fingerprint""",
    doc="Exact dedup by content hash: one shuffle on the fingerprint; "
    "survivor = min id. The 100 TB baseline dedup.",
)
def dedup_exact(spark: SparkSession, sf: str):
    return exact_duplicate_groups(table(spark, sf, "documents"))


@register(
    "dedup_bag_fingerprint",
    f"""WITH f AS (
         SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct({TOKS})), ' ')) AS fingerprint
         FROM documents)
       SELECT doc_id, fingerprint,
              row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1 AS keep
       FROM f""",
    doc="Bag-of-words fingerprint dedup: order-insensitive content key "
    "(catches word-reorder near-dups at exact-dedup cost).",
)
def dedup_bag(spark: SparkSession, sf: str):
    return bag_fingerprints(table(spark, sf, "documents"))


@register(
    "minhash_signatures",
    f"WITH {SIG_CTE} SELECT doc_id, seed, minhash FROM sig",
    doc="MinHash signatures (8 permutations over word 3-shingles): each "
    "shingle md5-hashed once, per-seed XOR mixes reduced by map-side "
    "partial min aggregation — shuffle is docs × 8 values only.",
)
def q_minhash(spark: SparkSession, sf: str):
    return minhash_signatures(table(spark, sf, "documents"))


@register(
    "minhash_lsh_pairs",
    f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, count(*) AS n_bands FROM pairs GROUP BY doc_a, doc_b""",
    doc="MinHash-LSH banding (4 bands × 2 rows): self-join on band keys — "
    "only hash-colliding candidates shuffle; the O(N²)→O(candidates) "
    "trick that makes near-dup detection feasible at 100 TB.",
)
def q_lsh(spark: SparkSession, sf: str):
    sig = minhash_signatures(table(spark, sf, "documents"))
    return lsh_candidate_pairs(lsh_band_keys(sig))


@register(
    "simhash_fingerprint",
    f"""WITH d AS (
         SELECT doc_id, list_distinct({TOKS}) AS t FROM documents),
       h AS (
         SELECT doc_id, {HASH.format(e="u.tok")} AS h
         FROM (SELECT doc_id, unnest(t) AS tok FROM d WHERE len(t) > 0) u),
       bits AS (
         SELECT doc_id, b.b,
                CASE WHEN sum(((h >> b.b) & 1) * 2 - 1) >= 0
                     THEN (1::BIGINT << b.b) ELSE 0 END AS w
         FROM h, (SELECT unnest(range(0, 60)) AS b) b
         GROUP BY doc_id, b.b)
       SELECT doc_id, sum(w)::BIGINT AS simhash FROM bits GROUP BY doc_id""",
    doc="SimHash (60-bit — the portable md5-prefix hash's full width) over "
    "the distinct-token set: each token hashed once, 60 partial-sum bit "
    "aggregates — near-dups have small Hamming distance; shuffle is "
    "docs × 60 values.",
)
def q_simhash(spark: SparkSession, sf: str):
    return simhash_signatures(table(spark, sf, "documents"))


@register(
    "ngram_jaccard_pairs",
    f"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 = 0),
       d AS (SELECT doc_id, {TOKS} AS t FROM sub),
       sh AS (
         SELECT doc_id, list_distinct({SHINGLES}) AS s
         FROM d WHERE len(t) >= 3),
       sized AS (SELECT doc_id, len(s)::BIGINT AS sz, s FROM sh),
       ex AS (SELECT doc_id, sz, unnest(s) AS shingle FROM sized),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.sz AS sz_a, b.sz AS sz_b, count(*) AS n_inter
         FROM ex a JOIN ex b ON a.shingle = b.shingle
         WHERE a.doc_id < b.doc_id
         GROUP BY doc_a, doc_b, sz_a, sz_b)
       SELECT doc_a, doc_b, n_inter,
              round(n_inter / (sz_a + sz_b - n_inter), 6) AS jaccard
       FROM inter""",
    doc="Exact n-gram Jaccard verification over a candidate subset: shingle "
    "equi-join + group count (the post-LSH verification stage).",
)
def q_jaccard(spark: SparkSession, sf: str):
    sub = table(spark, sf, "documents").filter(F.col("doc_id") % 29 == 0)
    return ngram_jaccard_pairs(sub)


# ---- similarity search ------------------------------------------------------


@register(
    "embedding_cosine_topk",
    f"""WITH q AS (
         SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
         FROM embeddings WHERE vec_id % 101 = 0 AND vec_id < 2000),
       p AS (
         SELECT q.q_id, e.vec_id, {COS.replace('ce', 'e.embedding::DOUBLE[]').replace('qe', 'q.qe')} AS cos
         FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       r AS (
         SELECT q_id, vec_id, cos,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         FROM p)
       SELECT q_id, vec_id, cos, rn::BIGINT AS rank FROM r WHERE rn <= 5""",
    doc="Brute-force cosine top-k (exactness baseline): broadcast query set, "
    "codegen'd dot products, ranked window per query. Ordering on rounded "
    "cosine + id tie-break keeps ranks engine-portable. The query batch "
    "is an ABSOLUTE-size set (vec_id%101, capped below 2000 — a job "
    "parameter, not a corpus fraction): sf1 rehearsal showed a "
    "corpus-proportional batch turns this O(N*Q) baseline quadratic "
    "(ratio 89 at 10x data); with the fixed batch it scales linearly in "
    "the corpus, which is the honest cost of the exactness baseline.",
)
def q_topk(spark: SparkSession, sf: str):
    emb = table(spark, sf, "embeddings")
    qs = emb.filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000))
    out = brute_force_topk(emb, qs, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "ann_bucketed_topk",
    f"""WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e,
                {sign_bucket_sql('embedding', 8)} AS bucket
         FROM embeddings),
       q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM b
             WHERE vec_id % 101 = 0 AND vec_id < 2000),
       p AS (
         SELECT q.q_id, c.vec_id, c.bucket,
                {COS.replace('ce', 'c.e').replace('qe', 'q.qe')} AS cos
         FROM b c JOIN q ON c.bucket = q.bucket
         WHERE c.vec_id <> q.q_id),
       r AS (
         SELECT q_id, vec_id, bucket, cos,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         FROM p)
       SELECT q_id, vec_id, bucket, cos, rn::BIGINT AS rank FROM r WHERE rn <= 3""",
    doc="Bucketed ANN top-k (scale path): sign-bucket LSH turns the cross "
    "join into an equi-join on bucket id — candidate set ~N/256 per query.",
)
def q_ann(spark: SparkSession, sf: str):
    emb = table(spark, sf, "embeddings")
    qs = emb.filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000))
    out = bucketed_topk(emb, qs, k=3, n_bits=8)
    return out.withColumn("rank", F.col("rank").cast("long"))


_Q8_COS = (
    "(CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))"
    " > 0 THEN list_dot_product({a},{b}) / (sqrt(list_dot_product({a},{a}))"
    " * sqrt(list_dot_product({b},{b}))) ELSE 0.0 END)"
)


@register(
    "embedding_quantized_cosine_cert",
    f"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       qz AS (SELECT vec_id, e, {quantize_int8_sql('e')} AS q FROM n),
       nz AS (SELECT vec_id, e, q,
                     sqrt(list_dot_product(e, e)) AS ne,
                     sqrt(list_dot_product(q, q)) AS nq
              FROM qz),
       qs AS (SELECT vec_id AS q_id, e AS qe, q AS qq, ne AS nqe, nq AS nqq
              FROM nz WHERE vec_id % 101 = 0 AND vec_id < 2000),
       p AS (
         SELECT qs.q_id, c.vec_id,
                abs((CASE WHEN qs.nqe * c.ne > 0
                     THEN list_dot_product(qs.qe, c.e) / (qs.nqe * c.ne)
                     ELSE 0.0 END)
                    - (CASE WHEN qs.nqq * c.nq > 0
                       THEN list_dot_product(qs.qq, c.q) / (qs.nqq * c.nq)
                       ELSE 0.0 END)) AS err
         FROM nz c, qs WHERE c.vec_id <> qs.q_id)
       SELECT q_id, count(*) AS n_pairs, round(max(err), 6) AS max_abs_err,
              bool_and(err <= 0.01) AS within_bound
       FROM p GROUP BY q_id""",
    doc="Int8 embedding quantization with a certified cosine-error bound: "
    "symmetric per-vector scale (max|x|/127, round-half-up), cosine "
    "computed on the quantized vectors (the scale cancels), and per "
    "query the max |exact − quantized| cosine error certified ≤ 0.01 "
    "(measured max 0.0038 — a 2.6× margin). The 100 TB lever: int8 "
    "vectors cut embedding storage and scan IO 4× and the quantized "
    "arithmetic is integer-exact in doubles, so the certification "
    "reproduces bit-for-bit in any engine. Query batch is the "
    "family-standard absolute-size set; the exact-vs-quantized sweep "
    "broadcasts it (documented exactness certification, fixed Q → "
    "linear in N).",
)
def q_quantized_cosine_cert(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.vectors import (
        dot_product,
        l2_norm,
        quantize_int8,
    )

    # norms precomputed once per VECTOR, not once per pair — 3x fewer HOF
    # folds in the O(N*Q) sweep; arithmetic (and therefore the hash) is
    # identical to the naive per-pair cosine
    emb = (
        table(spark, sf, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("q", quantize_int8("e"))
        .withColumn("ne", l2_norm("e"))
        .withColumn("nq", l2_norm("q"))
    )
    qs = emb.filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("q").alias("qq"),
        F.col("ne").alias("nqe"),
        F.col("nq").alias("nqq"),
    )

    def cos(va, vb, na, nb):
        denom = F.col(na) * F.col(nb)
        return F.when(denom > 0, dot_product(va, vb) / denom).otherwise(F.lit(0.0))

    err = F.abs(cos("qe", "e", "nqe", "ne") - cos("qq", "q", "nqq", "nq")).alias("err")
    pairs = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", err)
    )
    return pairs.groupBy("q_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.max("err"), 6).alias("max_abs_err"),
        F.expr("bool_and(err <= 0.01)").alias("within_bound"),
    )


# ---- text analysis ----------------------------------------------------------

_LANGS = sorted(tx.LANG_STOPWORDS)


def _hits_sql(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS[lang])
    return f"len(list_filter({TOKS}, x -> x IN ({inlist})))::BIGINT"


_PRED_SQL = "CASE " + " ".join(
    "WHEN "
    + " AND ".join(f"h_{a} >= h_{b}" for b in _LANGS if b != a)
    + f" THEN '{a}'"
    for a in _LANGS
) + " END"


@register(
    "text_lang_id",
    f"""WITH h AS (
         SELECT doc_id, lang AS labeled_lang,
                {', '.join(f'{_hits_sql(lang)} AS h_{lang}' for lang in _LANGS)}
         FROM documents)
       SELECT doc_id, labeled_lang,
              {', '.join(f'h_{lang}' for lang in _LANGS)},
              {_PRED_SQL} AS predicted_lang
       FROM h""",
    doc="Language-ID heuristic: per-language stopword hit counts, argmax "
    "with alphabetical tie-break — a pure scan expression.",
)
def q_langid(spark: SparkSession, sf: str):
    # Staged projections, mirroring the oracle's `h` CTE: tokenize once,
    # count hits once per language, then argmax over COLUMN REFERENCES.
    # The single-select form embedded the full size(filter(tokens))
    # tree 45x (5 outputs + 5x4x2 chain comparisons), paying analysis
    # and py4j cost per copy at every plan build; values are identical
    # and CollapseProject keeps the stages apart (the hit expressions
    # are non-cheap and multiply referenced). Measured (r12 opt): build
    # 0.79 -> ~0.1 s here and proportionally in the four consumers that
    # nest this builder (eval_langid_confusion, eval_cohens_kappa,
    # eval_mcnemar_models, eval_mcc_langid).
    d = table(spark, sf, "documents")
    t = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tx.tokens("text").alias("_toks"),
    )
    h = t.select(
        "doc_id",
        "labeled_lang",
        *[
            F.size(F.filter(F.col("_toks"), tx._isin_filter(tx.LANG_STOPWORDS[lang])))
            .cast("long")
            .alias(f"h_{lang}")
            for lang in _LANGS
        ],
    )
    # same alphabetical-priority CASE chain as the oracle, over h_ columns
    chain = None
    for a in _LANGS:
        cond = None
        for b in _LANGS:
            if b == a:
                continue
            c = F.col(f"h_{a}") >= F.col(f"h_{b}")
            cond = c if cond is None else (cond & c)
        chain = F.when(cond, F.lit(a)) if chain is None else chain.when(cond, F.lit(a))
    return h.select(
        "doc_id",
        "labeled_lang",
        *[f"h_{lang}" for lang in _LANGS],
        chain.alias("predicted_lang"),
    )


@register(
    "text_quality_scores",
    f"""SELECT doc_id,
              {tx.token_count_sql('text')} AS n_tokens,
              {tx.punct_ratio_sql('text')} AS punct_ratio,
              {tx.stopword_ratio_sql('text')} AS stopword_ratio,
              {tx.quality_score_sql('text')} AS quality
       FROM documents WHERE text IS NOT NULL""",
    doc="Document quality scoring: token count, punctuation density, "
    "stopword ratio, composite score — all codegen scan expressions.",
)
def q_quality(spark: SparkSession, sf: str):
    d = table(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.punct_ratio("text").alias("punct_ratio"),
        tx.stopword_ratio("text").alias("stopword_ratio"),
        tx.quality_score("text").alias("quality"),
    )


@register(
    "text_token_stats",
    f"""SELECT doc_id,
              {tx.token_count_sql('text')} AS ws_tokens,
              {tx.bpe_ish_token_count_sql('text')} AS bpe_tokens,
              length(text)::BIGINT AS n_chars
       FROM documents WHERE text IS NOT NULL""",
    doc="Token counting: whitespace tokens + BPE-ish sub-token estimate "
    "(ceil(len/4) per alpha run + punctuation) for data budgeting.",
)
def q_tokens(spark: SparkSession, sf: str):
    d = table(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        tx.token_count("text").alias("ws_tokens"),
        tx.bpe_ish_token_count("text").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "ann_ivf_topk",
    f"""WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cent AS (
         SELECT vec_id AS c_id, v AS cv FROM e
         WHERE vec_id % 257 = 0 AND vec_id < 2000),
       scored AS (
         SELECT e.vec_id, e.v, c.c_id,
                {COS.replace('ce', 'c.cv').replace('qe', 'e.v')} AS ccos
         FROM e, cent c),
       cells AS (
         SELECT vec_id, v, c_id AS cell FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY ccos DESC, c_id) AS rn
           FROM scored) WHERE rn = 1),
       q AS (
         SELECT vec_id AS q_id, v AS qv, cell FROM cells
         WHERE vec_id % 101 = 0 AND vec_id < 2000),
       pairs AS (
         SELECT q.q_id, c.vec_id, c.cell,
                {COS.replace('ce', 'c.v').replace('qe', 'q.qv')} AS cos
         FROM cells c JOIN q ON c.cell = q.cell WHERE c.vec_id <> q.q_id),
       r AS (
         SELECT q_id, vec_id, cell, cos,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         FROM pairs)
       SELECT q_id, vec_id, cell, cos, rn::BIGINT AS rank FROM r WHERE rn <= 3""",
    doc="IVF ANN top-k: nearest-centroid coarse quantization (broadcast "
    "centroids, ranked-window assignment), then search restricted to the "
    "query's cell — candidates ≈ N/n_centroids per query. Centroid count "
    "and query batch are absolute-size job parameters (capped below "
    "vec_id 2000), not corpus fractions — growing k with N made the "
    "assignment O(N*k) superlinear in the sf1 rehearsal (ratio 33).",
)
def q_ivf(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import ivf_topk

    emb = table(spark, sf, "embeddings")
    out = ivf_topk(
        emb,
        emb.filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000)),
        emb.filter((F.col("vec_id") % 257 == 0) & (F.col("vec_id") < 2000)),
        k=3,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "winnowing_fingerprints",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       d2 AS (SELECT doc_id, {SHINGLES} AS sh FROM d WHERE len(t) >= 3),
       pos AS (SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS p FROM d2),
       h AS (SELECT doc_id, p, {HASH.format(e="sh[p]")} AS h FROM pos),
       wins AS (
         SELECT doc_id, p,
                min(h) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                count(*) OVER (PARTITION BY doc_id) AS n
         FROM h)
       SELECT DISTINCT doc_id, wmin AS fingerprint
       FROM wins WHERE p <= n - 3""",
    doc="Winnowing (MOSS) rolling-hash fingerprints: shingle hashes → "
    "4-wide window minima → distinct per doc. Docs sharing a 6-token run "
    "share a fingerprint; fingerprint equi-join finds plagiarized/near-dup "
    "spans at corpus scale.",
)
def q_winnowing(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(table(spark, sf, "documents"))


@register(
    "corpus_curation_pipeline",
    f"""WITH scored AS (
         SELECT doc_id, source,
                {tx.quality_score_sql('text')} AS q,
                {tx.token_count_sql('text')} AS n_tokens,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         FROM documents WHERE text IS NOT NULL),
       kept AS (SELECT * FROM scored WHERE rn = 1 AND q >= 0.2)
       SELECT source, count(*) AS n_kept,
              CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              round(CAST(sum(CAST(q AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6) AS avg_quality
       FROM kept GROUP BY source""",
    doc="Composite curation pipeline — the operators composing as a real "
    "training-data job: quality scoring → exact dedup (survivor per "
    "content hash) → quality threshold → per-source corpus stats. One "
    "scan + one window shuffle + one agg shuffle.",
)
def q_curation(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    d = table(spark, sf, "documents").filter(F.col("text").isNotNull())
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    scored = d.select(
        "doc_id",
        "source",
        tx.quality_score("text").alias("q"),
        tx.token_count("text").alias("n_tokens"),
        F.row_number().over(w).alias("rn"),
    )
    kept = scored.filter((F.col("rn") == 1) & (F.col("q") >= 0.2))
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.col("q").cast("decimal(12,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_quality"),
    )


@register(
    "chunk_documents",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
       d2 AS (
         SELECT doc_id, t,
                CASE WHEN len(t) <= 32 THEN 1
                     ELSE (floor((len(t) - 32 + 24 - 1) / 24))::BIGINT + 1 END AS nc
         FROM d WHERE len(t) > 0),
       ex AS (SELECT doc_id, t, unnest(range(0, nc)) AS chunk_id FROM d2)
       SELECT doc_id, chunk_id,
              array_to_string(t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
              len(t[chunk_id * 24 + 1 : chunk_id * 24 + 32])::BIGINT AS n_tokens
       FROM ex""",
    doc="Document chunking for LLM training: 32-token windows, stride 24 "
    "(8-token overlap), final chunk clamped to the last token — integer-"
    "only arithmetic, scan + one explode.",
)
def q_chunk(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.chunking import chunk_documents

    return chunk_documents(table(spark, sf, "documents"), chunk_tokens=32, stride=24)


@register(
    "sequence_packing",
    f"""WITH d AS (
         SELECT doc_id, source, {tx.token_count_sql('text')} AS n_tokens
         FROM documents WHERE text IS NOT NULL),
       packed AS (
         SELECT doc_id, source, n_tokens,
                floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) / 512)::BIGINT AS bin
         FROM d)
       SELECT source, bin, count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS tokens_in_bin
       FROM packed GROUP BY source, bin""",
    doc="Sequential sequence-packing: docs fill fixed 512-token training "
    "bins per source via an exclusive running sum — one window shuffle, "
    "no driver-side packing loop.",
)
def q_packing(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.chunking import sequence_packing

    d = table(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "source", tx.token_count("text").alias("n_tokens")
    )
    packed = sequence_packing(d, "n_tokens", "source", "doc_id", budget=512)
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_in_bin"),
    )


@register(
    "text_redaction",
    """SELECT doc_id,
              regexp_replace(regexp_replace(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{4,}', '<NUM>', 'g') AS redacted
       FROM documents WHERE text IS NOT NULL""",
    doc="PII-style scrubbing: email + long-digit-run masking as a codegen "
    "regexp chain (patterns restricted to Java-regex/RE2-identical "
    "constructs).",
)
def q_redact(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.chunking import redact_text

    d = table(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", redact_text("text").alias("redacted"))


@register(
    "simhash_near_dup_pairs",
    f"""WITH d AS (
         SELECT doc_id, list_distinct({TOKS}) AS t FROM documents),
       h AS (
         SELECT doc_id, {HASH.format(e="u.tok")} AS h
         FROM (SELECT doc_id, unnest(t) AS tok FROM d WHERE len(t) > 0) u),
       bits AS (
         SELECT doc_id, b.b,
                CASE WHEN sum(((h >> b.b) & 1) * 2 - 1) >= 0
                     THEN (1::BIGINT << b.b) ELSE 0 END AS w
         FROM h, (SELECT unnest(range(0, 60)) AS b) b
         GROUP BY doc_id, b.b),
       sig AS (SELECT doc_id, sum(w)::BIGINT AS simhash FROM bits GROUP BY doc_id),
       bands AS (
         SELECT doc_id, simhash, bb.band, (simhash >> (bb.band * 15)) % 32768 AS byte
         FROM sig, (SELECT unnest(range(0, 4)) AS band) bb(band)),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sim_a, b.simhash AS sim_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.byte = b.byte
         WHERE a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3""",
    doc="SimHash near-dup pairs: 4×15-bit banding of the 60-bit signature "
    "(pigeonhole: Hamming ≤ 3 ⇒ ≥1 shared band; 131,072 buckets so "
    "candidate volume stays ~N²/32768) makes candidates an equi-join, then "
    "the exact bit_count(xor) Hamming filter — never an all-pairs scan.",
)
def q_simhash_pairs(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(table(spark, sf, "documents"))


@register(
    "ann_multiprobe_topk",
    f"""WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e,
                {sign_bucket_sql('embedding', 8)} AS bucket
         FROM embeddings),
       q0 AS (SELECT vec_id AS q_id, e AS qe, bucket FROM b
              WHERE vec_id % 101 = 0 AND vec_id < 2000),
       probes AS (
         SELECT q_id, qe, xor(bucket, p.flip) AS bucket
         FROM q0, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS flip) p),
       cand AS (
         SELECT DISTINCT p.q_id, c.vec_id, p.qe, c.e
         FROM b c JOIN probes p ON c.bucket = p.bucket
         WHERE c.vec_id <> p.q_id),
       scored AS (
         SELECT q_id, vec_id, {COS.replace('ce', 'e').replace('qe', 'qe')} AS cos
         FROM cand),
       r AS (
         SELECT q_id, vec_id, cos,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         FROM scored)
       SELECT q_id, vec_id, cos, rn::BIGINT AS rank FROM r WHERE rn <= 3""",
    doc="Multi-probe bucketed ANN: each query also probes the 8 neighbor "
    "buckets at Hamming distance 1 — the standard LSH recall fix at "
    "(bits+1)× candidate cost, still ≪ brute force.",
)
def q_multiprobe(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import multiprobe_bucketed_topk

    emb = table(spark, sf, "embeddings")
    out = multiprobe_bucketed_topk(
        emb,
        emb.filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000)),
        k=3,
        n_bits=8,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "dedup_duplicate_clusters",
    f"""WITH RECURSIVE {SIG_CTE},
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
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE r.u <> e.v)
       SELECT u AS doc_id, least(u, min(v))::BIGINT AS cluster_id
       FROM reach GROUP BY u""",
    doc="Duplicate clustering: connected components over MinHash-LSH "
    "candidate pairs — union-find on the driver when the oriented edge "
    "rows number ≤ 2^16 (one collect), else large-star/small-star "
    "contraction (two join+agg passes per round, O(log n) rounds). "
    "Cluster id = min member either way. Oracle: recursive-CTE "
    "transitive closure.",
)
def q_clusters(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.cluster import connected_components

    sig = minhash_signatures(table(spark, sf, "documents"))
    pairs = lsh_candidate_pairs(lsh_band_keys(sig)).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("cluster_id"))


@register(
    "media_features",
    """SELECT doc_id AS media_id,
              CASE WHEN text IS NULL THEN 0
                   ELSE octet_length(encode(text)) END::BIGINT AS n_bytes,
              md5(coalesce(text, '')) AS digest
       FROM documents""",
    doc="Multimodal feature-extraction plumbing over binary payloads "
    "(documents.text re-encoded as an opaque blob column): Arrow-batched "
    "mapInPandas computes per-blob n_bytes + md5 digest (and the decode-fn "
    "feature vector, certified separately in pytest; REAL header decode is "
    "certified by media_decode_dims). Oracle: DuckDB octet_length/md5 over "
    "the same bytes.",
)
def q_media_features(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import extract_features

    docs = table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(F.lit("text").alias("kind")).alias("meta"),
    )
    return extract_features(media).select("media_id", "n_bytes", "digest")


@register(
    "media_decode_dims",
    """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
              (CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 1024 END)::INT AS width,
              (CASE WHEN doc_id % 2 = 0 THEN 16 + (doc_id * 7) % 1024 END)::INT AS height,
              (CASE WHEN doc_id % 2 = 1
                    THEN ((100 + doc_id % 400) * 1000) // (8000 + (doc_id % 8) * 1000)
               END)::BIGINT AS duration_ms,
              (CASE WHEN doc_id % 2 = 1 THEN 8000 + (doc_id % 8) * 1000 END)::INT AS sample_rate
       FROM documents""",
    doc="REAL media decode round-trip: even docs become byte-exact PNG "
    "headers (signature + IHDR built with unhex/big-endian hex math), odd "
    "docs byte-exact RIFF/WAVE headers (little-endian fmt chunk) — then "
    "decode_metadata parses the dims back with the stdlib decoders "
    "(struct IHDR unpack, wave module). The oracle predicts the same "
    "numbers arithmetically from doc_id, so a hash match certifies the "
    "decoder recovered exactly what was encoded.",
)
def q_media_decode(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import decode_metadata

    def le(col, n_bytes):  # little-endian hex of an int column
        h = F.lpad(F.hex(col.cast("bigint")), n_bytes * 2, "0")
        return F.concat(
            *[F.substring(h, (n_bytes - 1 - i) * 2 + 1, 2) for i in range(n_bytes)]
        )

    def be32(col):
        return F.lpad(F.hex(col.cast("bigint")), 8, "0")

    docs = table(spark, sf, "documents").select("doc_id")
    width = F.lit(16) + F.col("doc_id") % 1024
    height = F.lit(16) + (F.col("doc_id") * 7) % 1024
    rate = F.lit(8000) + (F.col("doc_id") % 8) * 1000
    frames = F.lit(100) + F.col("doc_id") % 400
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),  # PNG signature
        F.lit("0000000D49484452"),  # IHDR length + type
        be32(width),
        be32(height),
        F.lit("0806000000"),  # bit depth 8, RGBA, deflate/adam7 defaults
    )
    wav_hex = F.concat(
        F.lit("52494646"),  # RIFF
        le(F.lit(36) + frames * 2, 4),  # riff size
        F.lit("57415645666D7420"),  # WAVE + 'fmt '
        F.lit("10000000"),  # fmt chunk length 16
        F.lit("01000100"),  # PCM, mono
        le(rate, 4),
        le(rate * 2, 4),  # byte rate
        F.lit("02001000"),  # block align 2, 16-bit
        F.lit("64617461"),  # data
        le(frames * 2, 4),  # data size (frames × 2 bytes; wave reads
        # nframes from this header field, payload body not required)
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.when(F.col("doc_id") % 2 == 0, png_hex).otherwise(wav_hex)).alias(
            "payload"
        ),
        F.struct(
            F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind")
        ).alias("meta"),
    )
    return decode_metadata(media).select(
        "media_id", "format", "width", "height", "duration_ms", "sample_rate"
    )


@register(
    "explode_skew_salted",
    """WITH e AS (
         SELECT doc_id,
                unnest(range(1, (CASE WHEN doc_id % 97 = 0
                                      THEN 10000 ELSE 10 END) + 1)) AS i
         FROM documents)
       SELECT doc_id, count(*)::BIGINT AS n_entities, sum(i)::BIGINT AS sum_i
       FROM e GROUP BY doc_id""",
    doc="Explode-skew torture: ~1 doc in 97 fans out to 10,000 entities "
    "(the one-document-with-a-million-annotations pathology). The salted "
    "two-phase aggregate spreads each hot key over 16 salt partitions "
    "before combining per-doc partials, so no single reducer sees a whole "
    "hot key — partition sizes stay bounded at any skew "
    "(operators/skew.py; AQE skew handling covers the join case).",
)
def q_explode_skew(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.skew import salted_agg

    docs = table(spark, sf, "documents").select("doc_id")
    ents = docs.withColumn(
        "n", F.when(F.col("doc_id") % 97 == 0, 10000).otherwise(10)
    ).select("doc_id", F.explode(F.expr("sequence(1, n)")).alias("i"))
    return salted_agg(
        ents,
        ["doc_id"],
        [F.count("*").alias("_c"), F.sum("i").alias("_s")],
        lambda: [F.sum("_c").alias("n_entities"), F.sum("_s").alias("sum_i")],
    )


_NGRAM5 = (
    "list_transform(range(1, greatest(len(t) - 4, 0) + 1),"
    " i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])"
)


@register(
    "dedup_duplicate_ngram_spans",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents WHERE text IS NOT NULL),
       sh AS (SELECT doc_id, {_NGRAM5} AS s FROM d WHERE len(t) >= 5),
       g AS (
         SELECT doc_id, u.x.p::BIGINT AS pos,
                {HASH.format(e="u.x.g")} AS gram_hash
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(s)),
                                            i -> {{'p': i, 'g': s[i + 1]}})) AS x
               FROM sh) u),
       c AS (SELECT gram_hash, count(*)::BIGINT AS n_occurrences
             FROM g GROUP BY gram_hash HAVING count(*) >= 2)
       SELECT g.doc_id, g.pos, g.gram_hash, c.n_occurrences
       FROM g JOIN c USING (gram_hash)""",
    doc="Substring-level dedup (token-5-gram granularity): every position "
    "opening an n-gram that repeats corpus-wide — the span-cutting "
    "complement to document-level dedup (the suffix-array recipe's "
    "shardable equivalent). Grams hash to 8-byte ints pre-shuffle; "
    "duplicated-gram dim via map-side-combined count; equi-join flagging.",
)
def q_duplicate_ngram_spans(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import duplicate_ngram_spans

    return duplicate_ngram_spans(table(spark, sf, "documents"), n=5, min_count=2)


@register(
    "dedup_span_islands",
    f"""WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents WHERE text IS NOT NULL),
       sh AS (SELECT doc_id, {_NGRAM5} AS s FROM d WHERE len(t) >= 5),
       g AS (
         SELECT doc_id, u.x.p::BIGINT AS pos,
                {HASH.format(e="u.x.g")} AS gram_hash
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(s)),
                                            i -> {{'p': i, 'g': s[i + 1]}})) AS x
               FROM sh) u),
       c AS (SELECT gram_hash FROM g GROUP BY gram_hash HAVING count(*) >= 2),
       hits AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram_hash)),
       lagd AS (
         SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                          OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS new_i
         FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       isl AS (
         SELECT doc_id, pos,
                sum(new_i) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS island_id
         FROM lagd)
       SELECT doc_id, island_id, min(pos)::BIGINT AS start_pos,
              (max(pos) + 4)::BIGINT AS end_pos,
              (max(pos) + 4 - min(pos) + 1)::BIGINT AS span_len,
              count(*)::BIGINT AS n_grams
       FROM isl GROUP BY doc_id, island_id""",
    doc="Maximal duplicated regions: the duplicated-5-gram hits merged "
    "into contiguous islands per document (gaps-and-islands — a lag "
    "suffices for fixed-length windows) — the actionable artifact a "
    "span-cutting pass removes/masks before training. One doc_id shuffle "
    "serves the lag, the island prefix-sum and the aggregate.",
)
def q_span_islands(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        duplicate_ngram_spans,
        duplicate_span_islands,
    )

    spans = duplicate_ngram_spans(table(spark, sf, "documents"), n=5, min_count=2)
    return duplicate_span_islands(spans, n=5)


# Shared CTE chain for the exact-substring-dedup family (r10): duplicated
# 5-gram anchors -> gaps-and-islands -> removal intervals of >= 10 tokens.
# Identical to the dedup_span_islands oracle up to `isl`, then the length
# threshold.
_SUBSTRING_SPANS_CTE = f"""d AS (SELECT doc_id, {TOKS} AS t FROM documents WHERE text IS NOT NULL),
       sh AS (SELECT doc_id, {_NGRAM5} AS s FROM d WHERE len(t) >= 5),
       g AS (
         SELECT doc_id, u.x.p::BIGINT AS pos,
                {HASH.format(e="u.x.g")} AS gram_hash
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(s)),
                                            i -> {{'p': i, 'g': s[i + 1]}})) AS x
               FROM sh) u),
       c AS (SELECT gram_hash FROM g GROUP BY gram_hash HAVING count(*) >= 2),
       hits AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram_hash)),
       lagd AS (
         SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                          OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS new_i
         FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       isl AS (
         SELECT doc_id, pos,
                sum(new_i) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS island_id
         FROM lagd),
       spans AS (
         SELECT doc_id, min(pos)::BIGINT AS start_pos,
                (max(pos) + 4)::BIGINT AS end_pos,
                (max(pos) + 4 - min(pos) + 1)::BIGINT AS span_len
         FROM isl GROUP BY doc_id, island_id
         HAVING (max(pos) + 4 - min(pos) + 1) >= 10)"""


@register(
    "dedup_substring_exact",
    f"""WITH {_SUBSTRING_SPANS_CTE}
       SELECT doc_id, start_pos, end_pos, span_len FROM spans""",
    doc="Exact substring dedup at suffix granularity (Lee et al.'s "
    "'remove any >= k-token substring that appears twice in the "
    "corpus', k = 10): duplicated-5-gram anchors extend-and-merge into "
    "maximal islands (the shardable equivalent of the corpus "
    "suffix-array recipe — every duplicated >= k-token substring is a "
    "contiguous anchor run, so no false negatives), and only islands "
    "of >= 10 tokens become removal intervals — a lone duplicated "
    "common phrase survives, a verbatim clone is cut. Scale shape: "
    "hash-before-shuffle grams, map-side-combined counts, equi-join "
    "flagging (AQE covers hot boilerplate keys), one doc-partitioned "
    "lag/prefix-sum window; never all-pairs "
    "(operators/dedup.py substring_removal_intervals).",
)
def q_substring_exact(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        substring_removal_intervals,
    )

    return substring_removal_intervals(
        table(spark, sf, "documents"), anchor_n=5, min_len=10
    )


@register(
    "dedup_substring_survivors",
    f"""WITH {_SUBSTRING_SPANS_CTE},
       rem AS (SELECT DISTINCT doc_id,
                      unnest(range(start_pos, end_pos + 1)) AS pos
               FROM spans),
       tp AS (
         SELECT doc_id, u.x.p::BIGINT AS pos, u.x.w AS w
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(t)),
                                            i -> {{'p': i, 'w': t[i + 1]}})) AS x
               FROM d) u),
       surv AS (
         SELECT tp.doc_id, tp.pos, tp.w FROM tp
         WHERE NOT EXISTS (SELECT 1 FROM rem
                           WHERE rem.doc_id = tp.doc_id AND rem.pos = tp.pos)),
       agg AS (
         SELECT doc_id, count(*)::BIGINT AS surviving_tokens,
                string_agg(w, ' ' ORDER BY pos) AS s
         FROM surv GROUP BY doc_id)
       SELECT d.doc_id, len(d.t)::BIGINT AS total_tokens,
              (len(d.t) - coalesce(agg.surviving_tokens, 0))::BIGINT
                AS removed_tokens,
              coalesce(agg.surviving_tokens, 0)::BIGINT AS surviving_tokens,
              md5(coalesce(agg.s, '')) AS surviving_hash
       FROM d LEFT JOIN agg USING (doc_id)""",
    doc="The exact-substring dedup APPLIED — the surviving corpus: per "
    "document, tokens outside every >= 10-token duplicated-substring "
    "removal interval, reported as counts plus the md5 of the "
    "space-joined surviving text (md5('') for fully-removed docs). "
    "Doc-level dedup drops whole documents; this keeps each doc's "
    "unique remainder — the artifact a span-cutting pass actually "
    "ships to training. Scale shape: the disjoint islands roll up to "
    "one interval array per doc, and the cut is a per-doc JVM-side "
    "slice-fold over that array — no (doc, pos) row explosion, no "
    "token-volume shuffle, one doc-keyed join "
    "(operators/dedup.py _cut_interval_survivors).",
)
def q_substring_survivors(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        substring_dedup_survivors,
    )

    return substring_dedup_survivors(
        table(spark, sf, "documents"), anchor_n=5, min_len=10
    )


# The BPE-token twin of _SUBSTRING_SPANS_CTE: tokens come from the pinned
# BPE merge table (functions/bpe.py DuckDB twin) and the island threshold
# is Lee et al.'s production k = 50 subword tokens.
def _substring_spans_bpe_cte(k: int) -> str:
    from annotations_ingester_spark.functions.bpe import bpe_tokens_sql

    return f"""d AS (SELECT doc_id, {bpe_tokens_sql("text")} AS t
            FROM documents WHERE text IS NOT NULL),
       sh AS (SELECT doc_id, {_NGRAM5} AS s FROM d WHERE len(t) >= 5),
       g AS (
         SELECT doc_id, u.x.p::BIGINT AS pos,
                {HASH.format(e="u.x.g")} AS gram_hash
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(s)),
                                            i -> {{'p': i, 'g': s[i + 1]}})) AS x
               FROM sh) u),
       c AS (SELECT gram_hash FROM g GROUP BY gram_hash HAVING count(*) >= 2),
       hits AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram_hash)),
       lagd AS (
         SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                          OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS new_i
         FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       isl AS (
         SELECT doc_id, pos,
                sum(new_i) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS island_id
         FROM lagd),
       spans AS (
         SELECT doc_id, min(pos)::BIGINT AS start_pos,
                (max(pos) + 4)::BIGINT AS end_pos,
                (max(pos) + 4 - min(pos) + 1)::BIGINT AS span_len
         FROM isl GROUP BY doc_id, island_id
         HAVING (max(pos) + 4 - min(pos) + 1) >= {k})"""


@register(
    "dedup_substring_bpe_k50",
    f"""WITH {_substring_spans_bpe_cte(50)}
       SELECT doc_id, start_pos, end_pos, span_len FROM spans""",
    doc="Exact substring dedup at Lee et al.'s production setting: "
    "remove any substring of >= k = 50 **BPE tokens** that appears "
    "twice in the corpus. Same anchors->islands machinery as "
    "dedup_substring_exact but in subword space over the pinned merge "
    "table (functions/bpe.py), so removal intervals index exactly the "
    "units the LM trains on — closing the loop between the tokenizer "
    "family and the substring family (r10 verdict item 5). The BPE "
    "encode is pure JVM string expressions; scale shape inherited: "
    "hash-before-shuffle grams, map-side-combined counts, equi-join "
    "flagging, one doc-partitioned window "
    "(operators/dedup.py substring_removal_intervals_bpe).",
)
def q_substring_bpe_k50(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        substring_removal_intervals_bpe,
    )

    return substring_removal_intervals_bpe(
        table(spark, sf, "documents"), anchor_n=5, k=50
    )


@register(
    "dedup_substring_bpe_survivors",
    f"""WITH {_substring_spans_bpe_cte(50)},
       rem AS (SELECT DISTINCT doc_id,
                      unnest(range(start_pos, end_pos + 1)) AS pos
               FROM spans),
       tp AS (
         SELECT doc_id, u.x.p::BIGINT AS pos, u.x.w AS w
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(t)),
                                            i -> {{'p': i, 'w': t[i + 1]}})) AS x
               FROM d) u),
       surv AS (
         SELECT tp.doc_id, tp.pos, tp.w FROM tp
         WHERE NOT EXISTS (SELECT 1 FROM rem
                           WHERE rem.doc_id = tp.doc_id AND rem.pos = tp.pos)),
       agg AS (
         SELECT doc_id, count(*)::BIGINT AS surviving_tokens,
                string_agg(w, ' ' ORDER BY pos) AS s
         FROM surv GROUP BY doc_id)
       SELECT d.doc_id, len(d.t)::BIGINT AS total_tokens,
              (len(d.t) - coalesce(agg.surviving_tokens, 0))::BIGINT
                AS removed_tokens,
              coalesce(agg.surviving_tokens, 0)::BIGINT AS surviving_tokens,
              md5(coalesce(agg.s, '')) AS surviving_hash
       FROM d LEFT JOIN agg USING (doc_id)""",
    doc="The BPE k=50 substring dedup APPLIED — the surviving corpus in "
    "the units the LM trains on: per document, BPE tokens outside "
    "every >= 50-subword duplicated-substring removal interval, as "
    "counts plus the md5 of the space-joined surviving token stream "
    "(md5('') for fully-removed docs). Closes the last step of the "
    "r11 BPE family: dedup_substring_bpe_k50 emits the intervals; "
    "this cuts them and ships the remainder — the deliverable a "
    "span-cutting pass trains on, which word-space survivors over- "
    "or under-cut after re-tokenization. Scale shape: the "
    "dictionary-encoded token frame (encode once per DISTINCT word, "
    "checkpointed word stream) feeds two keyed legs — "
    "hash-before-shuffle gram anchors, then a per-doc JVM-side "
    "slice-fold over the disjoint island array (no (doc, pos) row "
    "explosion, no token-volume shuffle; the fold is aliased into its "
    "own projection because higher-order functions are CodegenFallback "
    "— see operators/dedup.py _cut_interval_survivors).",
)
def q_substring_bpe_survivors(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        substring_dedup_survivors_bpe,
    )

    return substring_dedup_survivors_bpe(
        table(spark, sf, "documents"), anchor_n=5, k=50
    )


@register(
    "dedup_corpus_survivors",
    f"""WITH RECURSIVE {SIG_CTE},
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
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE r.u <> e.v),
       labels AS (
         SELECT u AS doc_id, least(u, min(v))::BIGINT AS cluster_id
         FROM reach GROUP BY u)
       SELECT d.doc_id FROM documents d LEFT JOIN labels l USING (doc_id)
       WHERE l.cluster_id IS NULL OR d.doc_id = l.cluster_id""",
    doc="END-TO-END corpus dedup: MinHash -> LSH banding -> connected "
    "components -> one survivor per near-dup cluster (the cluster-minimum "
    "doc) plus all unclustered docs. The full production flow as ONE "
    "declarative plan; every stage bucketed (band equi-join, O(log n) "
    "star-contraction CC, survivor anti-filter is a left join on id).",
)
def q_corpus_survivors(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.cluster import (
        connected_components,
        dedup_survivors,
    )

    docs = table(spark, sf, "documents")
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(lsh_band_keys(sig)).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    return dedup_survivors(docs, cc).select("doc_id")


@register(
    "approx_sketch_certified",
    """SELECT event_type, TRUE AS hll_ok, TRUE AS pctl_ok
       FROM events GROUP BY event_type""",
    doc="Certifies the approximate-aggregate contract, not a point value: "
    "per group, HLL distinct-count (approx_count_distinct at rsd=0.025) "
    "must land within 4*rsd = 10% of the exact distinct (a ~4-sigma "
    "bound, so a pass is distribution-robust, not testdata luck), and "
    "the KLL-style approx median (percentile_approx, accuracy 10000) "
    "must land between the exact p35 and p65 — a band wide enough for "
    "small groups where rank-error granularity is coarse. The checks "
    "are still statistical (the oracle hardcodes TRUE): regenerated "
    "data could in principle flake at ~1e-5/group, which is the "
    "documented trade for certifying sketches at all. At 100 TB these "
    "sketches replace exact-distinct shuffles with fixed-size mergeable "
    "state; the query certifies the accuracy bound that substitution "
    "relies on, in an engine-portable way (the oracle is the contract: "
    "every group passes).",
)
def q_approx_sketch_certified(spark: SparkSession, sf: str):
    ev = table(spark, sf, "events")
    # The exact distinct is an explicit two-level aggregation (partial
    # distinct map-side, then count) rather than countDistinct in the same
    # agg as the sketches: the combined Expand plan is both the wrong shape
    # at scale (row multiplication) and a codegen pathology (the
    # percentile_approx × countDistinct plan recompiles ~3 s per fresh
    # query). Two lean aggs + a 5-row join beat one wide Expand.
    hll_rsd = 0.025  # bound below = 4*rsd (~4 sigma)
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=hll_rsd).alias("hll"),
        F.percentile_approx("value", 0.5, 10000).alias("amed"),
        F.expr("percentile(value, 0.35)").alias("p_lo"),
        F.expr("percentile(value, 0.65)").alias("p_hi"),
    )
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("exact_d"))
    )
    return sketches.join(F.broadcast(exact), "event_type").select(
        "event_type",
        (F.abs(F.col("hll") - F.col("exact_d")) <= 4 * hll_rsd * F.col("exact_d")).alias(
            "hll_ok"
        ),
        ((F.col("amed") >= F.col("p_lo")) & (F.col("amed") <= F.col("p_hi"))).alias(
            "pctl_ok"
        ),
    )


@register(
    "layout_zorder_cells",
    """WITH s0 AS (
         SELECT (l_partkey & 65535) AS xa, (l_suppkey & 65535) AS xb FROM lineitem),
       s1 AS (SELECT ((xa | (xa << 8)) & 16711935) AS xa,
                     ((xb | (xb << 8)) & 16711935) AS xb FROM s0),
       s2 AS (SELECT ((xa | (xa << 4)) & 252645135) AS xa,
                     ((xb | (xb << 4)) & 252645135) AS xb FROM s1),
       s3 AS (SELECT ((xa | (xa << 2)) & 858993459) AS xa,
                     ((xb | (xb << 2)) & 858993459) AS xb FROM s2),
       s4 AS (SELECT ((xa | (xa << 1)) & 1431655765) AS xa,
                     ((xb | (xb << 1)) & 1431655765) AS xb FROM s3),
       zc AS (SELECT (xa | (xb << 1)) AS z FROM s4)
       SELECT (z >> 16)::BIGINT AS cell, count(*) AS n,
              min(z)::BIGINT AS z_min, max(z)::BIGINT AS z_max
       FROM zc GROUP BY cell""",
    doc="Z-order (Morton) cell statistics over (l_partkey, l_suppkey): the "
    "interleave arithmetic behind write_zordered (sinks/layout.py), "
    "certified bit-for-bit against a DuckDB twin. Clustering a 100 TB "
    "table on the z-curve of two independent query keys lets parquet "
    "min-max stats prune on either key; this query pins the curve "
    "computation itself (pure JVM integer ops, one shuffle on the "
    "bounded 2^16-cell aggregate).",
)
def q_layout_zorder_cells(spark: SparkSession, sf: str):
    from annotations_ingester_spark.sinks.layout import morton2

    li = table(spark, sf, "lineitem")
    z = morton2(F.col("l_partkey"), F.col("l_suppkey"))
    return (
        li.select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 16).alias("cell"))
        .agg(
            F.count("*").alias("n"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


@register(
    "integrity_table_checksum",
    f"""WITH rows_c AS (
         SELECT l_returnflag,
                {{H}} AS h
         FROM lineitem),
       agg AS (
         SELECT l_returnflag, count(*) AS n,
                bit_xor(h) AS xor_checksum,
                sum(h)::DECIMAL(38,0)::VARCHAR AS sum_checksum
         FROM rows_c GROUP BY l_returnflag)
       SELECT * FROM agg""".replace(
        "{H}",
        "(('0x' || substr(md5("
        "l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR || '|' || "
        "l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR || '|' || "
        "round(l_quantity * 100)::BIGINT::VARCHAR || '|' || "
        "round(l_extendedprice * 100)::BIGINT::VARCHAR || '|' || "
        "l_returnflag || '|' || l_linestatus || '|' || "
        "strftime(l_shipdate, '%Y-%m-%d')"
        "), 1, 15))::BIGINT)",
    ),
    doc="Order-insensitive table checksum (count + XOR + sum of per-row "
    "portable hashes, grouped by returnflag): the migration/replication "
    "validation primitive — certify a 100 TB copy equals its source with "
    "one map-side-combinable pass per side and a few scalars over the "
    "wire, no row-level diff. Floats enter the hash as integer cents; "
    "dates as ISO strings — renders identically in any engine.",
)
def q_integrity_table_checksum(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    li = table(spark, sf, "lineitem")
    row_repr = F.concat_ws(
        "|",
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.round(F.col("l_quantity") * 100).cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    h = md5_hash64(row_repr)
    return (
        li.select("l_returnflag", h.alias("h"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("sum_checksum"),
        )
    )


@register(
    "layout_compaction_checksum",
    """WITH rows_c AS (
         SELECT ('0x' || substr(md5(
           doc_id::VARCHAR || '|' || md5(text) || '|' || lang || '|' ||
           source || '|' || n_chars::VARCHAR), 1, 15))::BIGINT AS h
         FROM documents)
       SELECT TRUE AS checksum_equal, TRUE AS files_reduced,
              count(*) AS n, bit_xor(h) AS xor_checksum,
              sum(h)::DECIMAL(38,0)::VARCHAR AS sum_checksum
       FROM rows_c""",
    doc="Compaction certified by checksum, run for real: the documents "
    "table is written as a deliberately fragmented copy (24 tiny files — "
    "the streaming-ingest pathology), order-insensitively checksummed "
    "(count + XOR + decimal sum of portable row hashes), compacted via "
    "sinks/layout.compact_parquet, and checksummed again. The returned "
    "row proves pre/post row-set equality AND a real file-count "
    "reduction, and carries the checksums themselves so the oracle "
    "hash-match pins them to DuckDB's independent computation over the "
    "source table. This is the maintenance-job invariant at 100 TB: "
    "compaction may only change layout, never data.",
)
def q_layout_compaction_checksum(spark: SparkSession, sf: str):
    import glob
    import shutil
    import tempfile

    from annotations_ingester_spark.functions.hashing import md5_hash64
    from annotations_ingester_spark.sinks.layout import compact_parquet

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

    frag = tempfile.mkdtemp(prefix="spark_graft_compact_")
    try:
        table(spark, sf, "documents").repartition(24).write.mode("overwrite").parquet(
            frag
        )
        files_before = len(glob.glob(f"{frag}/*.parquet"))
        before = checksum(spark.read.parquet(frag))
        compact_parquet(spark, frag, target_file_mb=128)
        files_after = len(glob.glob(f"{frag}/*.parquet"))
        after = checksum(spark.read.parquet(frag))
    finally:
        shutil.rmtree(frag, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                before == after,
                files_after < files_before,
                after["n"],
                after["xor_checksum"],
                after["sum_checksum"],
            )
        ],
        "checksum_equal boolean, files_reduced boolean, n long, "
        "xor_checksum long, sum_checksum string",
    )


@register(
    "dedup_incremental_new_vs_corpus",
    f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       matches AS (
         SELECT n.doc_id AS new_id, c.doc_id AS corpus_id
         FROM band n JOIN band c ON n.band = c.band AND n.band_key = c.band_key
         WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
       SELECT new_id, corpus_id, count(*) AS n_bands
       FROM matches GROUP BY new_id, corpus_id""",
    doc="Incremental dedup, the continuous-ingest production shape: an "
    "arriving batch (doc_id % 10 = 0 stands in for the new partition) is "
    "LSH-banded and joined against the standing corpus's band index — "
    "new × colliding-buckets only, the corpus is never self-joined or "
    "re-shuffled. Batch twin of the J1 skip-processed resume applied to "
    "near-duplicate identity.",
)
def q_dedup_incremental(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import incremental_lsh_matches

    docs = table(spark, sf, "documents")
    bands = lsh_band_keys(minhash_signatures(docs))
    new_b = bands.filter(F.col("doc_id") % 10 == 0)
    corpus_b = bands.filter(F.col("doc_id") % 10 != 0)
    return incremental_lsh_matches(new_b, corpus_b)


@register(
    "streaming_incremental_dedup",
    f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       matches AS (
         SELECT n.doc_id AS new_id, c.doc_id AS corpus_id
         FROM band n JOIN band c ON n.band = c.band AND n.band_key = c.band_key
         WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
       SELECT new_id, corpus_id, count(*) AS n_bands
       FROM matches GROUP BY new_id, corpus_id""",
    doc="Streaming twin of dedup_incremental_new_vs_corpus, run for real: "
    "arriving documents stream in (availableNow), and foreachBatch bands "
    "each micro-batch and probes the STANDING corpus band index — the "
    "continuous-ingest production loop. Exact under any micro-batch "
    "split: a document is one row, so its bands are always computed "
    "whole within its batch, and the static corpus side never moves. "
    "Match rows append to a result store per batch. At 100 TB the corpus "
    "index is a persisted table bucketed on (band, band_key), so each "
    "batch's probe join touches only colliding buckets; per-batch work "
    "is O(batch x collisions), independent of corpus size.",
)
def q_streaming_incremental_dedup(spark: SparkSession, sf: str):
    import hashlib
    import os
    import tempfile

    from annotations_ingester_spark.operators.dedup import incremental_lsh_matches

    docs_schema = table_schema(spark, sf, "documents")
    corpus_bands = lsh_band_keys(
        minhash_signatures(
            table(spark, sf, "documents").filter(F.col("doc_id") % 10 != 0)
        )
    )
    # deterministic per-dataset result store, overwritten by the pre-seed
    # below — re-runs (bench warm-up + median-of-3) reuse one dir instead
    # of leaking a fresh mkdtemp per invocation
    tag = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:12]
    out_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_incr_dedup_{tag}"
    )
    # pre-seed the store with the output schema so a zero-match run still
    # yields a readable (empty) result
    spark.createDataFrame([], "new_id long, corpus_id long, n_bands long").write.mode(
        "overwrite"
    ).parquet(out_dir)

    def probe(batch_df, _batch_id):
        new_bands = lsh_band_keys(minhash_signatures(batch_df))
        incremental_lsh_matches(new_bands, corpus_bands).write.mode("append").parquet(
            out_dir
        )

    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
        .filter(F.col("doc_id") % 10 == 0)
    )
    q = stream.writeStream.foreachBatch(probe).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.parquet(out_dir)


@register(
    "layout_bucketed_join_cert",
    """SELECT TRUE AS bucketed_no_shuffle,
              count(*)::BIGINT AS n_rows,
              sum(round(o_totalprice * 100)::BIGINT
                  * round(l_quantity)::BIGINT)::BIGINT AS join_checksum
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
    doc="Bucketed co-located join, run for real and certified from the "
    "physical plan: orders and lineitem are written as bucketed tables "
    "(bucketBy(8, key) + sortBy — Spark's native layout for "
    "shuffle-free sort-merge joins), re-read, and joined; the "
    "certification flag asserts the executed join plan contains NO "
    "Exchange node (both sides' bucketing satisfies the join's "
    "distribution requirement, so the petabyte-scale shuffle a plain "
    "fact-fact join pays simply disappears), and the checksum proves "
    "the shuffle-free join returns exactly the rows the oracle's plain "
    "join returns. This is THE layout decision for a 100 TB fact-fact "
    "workload: pay one bucketed write, then every subsequent key join "
    "is map-side. Run-unique table names + DROP TABLE afterwards keep "
    "concurrent runs isolated (r5 advice pattern).",
)
def q_layout_bucketed_join_cert(spark: SparkSession, sf: str):
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:10]
    t_orders, t_li = f"bjc_orders_{tag}", f"bjc_lineitem_{tag}"
    # EXTERNAL tables at a run-unique temp path: bucketing metadata needs
    # the session catalog, but the bytes must not depend on a writable
    # CWD/warehouse dir (the gate may run from anywhere), and concurrent
    # runs stay fully isolated.
    run_dir = tempfile.mkdtemp(prefix="spark_graft_bjc_")
    orders = table(spark, sf, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", F.round("l_quantity").cast("long").alias("qty")
    )
    # the two bucketed writes are independent jobs — overlap them
    # (guide §2.6, catalog.run_concurrently) so the lineitem write
    # back-fills the orders write's tail; catalog entries and bytes are
    # identical to the sequential form (distinct table names, distinct
    # paths). The writes run INSIDE the try so a failed write still drops
    # the other thread's table and removes run_dir (r12 advice).
    try:
        run_concurrently(
            lambda: write_bucketed(
                orders, t_orders, f"{run_dir}/orders", "o_orderkey", 8,
                sort_col="o_orderkey",
            ),
            lambda: write_bucketed(
                li, t_li, f"{run_dir}/lineitem", "l_orderkey", 8,
                sort_col="l_orderkey",
            ),
        )
        o = spark.table(t_orders).hint("merge")  # force SMJ (no broadcast)
        l = spark.table(t_li)
        joined = o.join(l, o.o_orderkey == l.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        no_shuffle = "Exchange" not in plan
        result = (
            joined.groupBy()
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.col("cents") * F.col("qty")).cast("long").alias(
                    "join_checksum"
                ),
            )
            .select(
                F.lit(no_shuffle).alias("bucketed_no_shuffle"),
                "n_rows",
                "join_checksum",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
        shutil.rmtree(run_dir, ignore_errors=True)
    return result


@register(
    "dedup_duplicate_lines",
    """WITH s AS (
         SELECT doc_id, trim(u.raw, ' ') AS line
         FROM (SELECT doc_id, unnest(string_split(text, '.')) AS raw
               FROM documents) u),
       f AS (SELECT doc_id, line FROM s WHERE length(line) >= 15),
       g AS (
         SELECT line,
                count(*)::BIGINT AS n_occurrences,
                count(DISTINCT doc_id)::BIGINT AS n_docs
         FROM f GROUP BY line)
       SELECT line, n_occurrences, n_docs
       FROM g WHERE n_docs >= 2""",
    doc="Corpus-wide duplicated-line detection — the RefinedWeb/CCNet "
    "line-dedup primitive, distinct from doc-level dedup (whole-document "
    "fingerprints) and from dedup_span_islands (within-doc n-gram "
    "repeats): boilerplate sentences repeated ACROSS documents "
    "(headers, navigation chrome, license blurbs) are what line-level "
    "filtering strips before training. Sentences >= 15 chars split on "
    "'.', exact-matched corpus-wide; output is every line appearing in "
    ">= 2 distinct docs with its occurrence and document counts — the "
    "strip-list the cleaning pass consumes. Scale shape: one explode "
    "(rows ∝ corpus sentences) into one map-side-combinable aggregate "
    "keyed on the line; at 100 TB the line key would be its md5 (same "
    "shuffle shape, 16-byte keys) with the text kept via min() — the "
    "exact-text form here keeps the strip-list directly usable.",
)
def q_dedup_duplicate_lines(spark: SparkSession, sf: str):
    s = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(F.split("text", r"\.")).alias("raw"),
        )
        .select("doc_id", F.expr("trim(BOTH ' ' FROM raw)").alias("line"))
        .filter(F.length("line") >= 15)
    )
    return (
        s.groupBy("line")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "ngram_overlap_pairs",
    f"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 = 0),
       d AS (SELECT doc_id, {{TOKS}} AS t FROM sub),
       sh AS (
         SELECT doc_id, list_distinct({{SHINGLES}}) AS s
         FROM d WHERE len(t) >= 3),
       sized AS (SELECT doc_id, len(s)::BIGINT AS sz, s FROM sh),
       ex AS (SELECT doc_id, sz, unnest(s) AS shingle FROM sized),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.sz AS sz_a, b.sz AS sz_b, count(*) AS n_inter
         FROM ex a JOIN ex b ON a.shingle = b.shingle
         WHERE a.doc_id < b.doc_id
         GROUP BY doc_a, doc_b, sz_a, sz_b)
       SELECT doc_a, doc_b, sz_a, sz_b, n_inter,
              round(n_inter / least(sz_a, sz_b), 6) AS overlap
       FROM inter""".format(TOKS=TOKS, SHINGLES=SHINGLES),
    doc="Overlap coefficient (|A ∩ B| / min(|A|,|B|)) over the same "
    "candidate subset and shingle machinery as ngram_jaccard_pairs — "
    "the ASYMMETRIC near-dup measure: a short document quoted verbatim "
    "inside a long one scores ~1.0 here while its Jaccard stays low "
    "(union dominated by the long side). Quote/containment detection "
    "runs this next to Jaccard in the verification tier; same scale "
    "shape (shingle equi-join + group count).",
)
def q_ngram_overlap(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import ngram_overlap_pairs

    sub = table(spark, sf, "documents").filter(F.col("doc_id") % 29 == 0)
    return ngram_overlap_pairs(sub)


_PHASH_BASE = "(" + HASH.format(e="'phash:' || g::VARCHAR") + " | 1)"

#: shared planted-pattern CTE (img + pat): 4 variants per group g —
#: base, 1-bit flip, another 1-bit flip, both — the ONE statement of the
#: synthesis contract both phash queries' oracles compose
_PHASH_PAT_CTE = f"""img AS (
         SELECT doc_id, (doc_id // 4)::BIGINT AS g, (doc_id % 4)::BIGINT AS m
         FROM documents),
       pat AS (
         SELECT doc_id,
                xor(xor({_PHASH_BASE},
                        CASE WHEN m IN (1, 3)
                             THEN (1::BIGINT << (g % 59 + 1)::INT)
                             ELSE 0::BIGINT END),
                    CASE WHEN m IN (2, 3)
                         THEN (1::BIGINT << ((g * 7 + 3) % 59 + 1)::INT)
                         ELSE 0::BIGINT END) AS phash
         FROM img)"""


def _phash_pattern_frame(docs):
    """Spark twin of ``_PHASH_PAT_CTE``: (media_id, pattern) planted
    phash patterns, one statement of the synthesis contract."""
    base = F.expr(
        "CAST(conv(substring(md5(concat('phash:', CAST(g AS STRING))), 1, 15),"
        " 16, 10) AS BIGINT) | CAST(1 AS BIGINT)"
    )
    return (
        docs.withColumn("g", F.expr("CAST(doc_id DIV 4 AS BIGINT)"))
        .withColumn("m", F.expr("CAST(doc_id % 4 AS BIGINT)"))
        .withColumn("base", base)
        .withColumn(
            "pattern",
            F.expr(
                "base"
                " ^ (CASE WHEN m IN (1, 3)"
                "     THEN shiftleft(CAST(1 AS BIGINT), CAST(g % 59 + 1 AS INT))"
                "     ELSE CAST(0 AS BIGINT) END)"
                " ^ (CASE WHEN m IN (2, 3)"
                "     THEN shiftleft(CAST(1 AS BIGINT),"
                "                    CAST((g * 7 + 3) % 59 + 1 AS INT))"
                "     ELSE CAST(0 AS BIGINT) END)"
            ),
        )
        .select(F.col("doc_id").alias("media_id"), "pattern")
    )


@register(
    "media_phash_near_dup_pairs",
    f"""WITH {_PHASH_PAT_CTE}
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
       FROM pat a JOIN pat b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.phash, b.phash)) <= 4""",
    doc="Image near-duplicate pairs via Hamming-banded LSH over the 64-bit "
    "perceptual hash — run END TO END on real bytes: every doc_id becomes "
    "a genuine 8x8 grayscale PNG (valid chunks/CRCs/zlib IDAT, built "
    "in-partition by mapInPandas) whose pixel pattern is an arithmetic "
    "function of doc_id (groups of 4 share an md5-derived base pattern; "
    "members flip 0-2 known bits, so intra-group Hamming <= 2 by "
    "construction); the vendored pure-stdlib PNG decoder recovers pixels, "
    "average-hash folds them to the 64-bit phash (provably equal to the "
    "planted pattern), and hash64_near_dup_pairs bands the phash 5x13 "
    "bits, equi-joins on (band, bits), and verifies candidates by exact "
    "bit_count(xor) <= 4 — never all-pairs, recall EXACT by pigeonhole "
    "(4 flipped bits cannot touch all 5 bands). The oracle predicts every "
    "phash arithmetically and computes the literal Hamming-threshold "
    "cross join (ground-truth tier, fine at parity scale factors; the "
    "banded side is the one that runs on a corpus). A hash match "
    "certifies synth -> decode -> phash -> band -> verify end to end. "
    "Scale: bucket space n_bands * 2^13 ~= 41k; billion-image corpora "
    "widen bands (4x16 -> threshold 3) or multi-probe, same machinery.",
)
def q_media_phash_near_dup(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import (
        decode_content,
        synth_pattern_images,
    )
    from annotations_ingester_spark.operators.dedup import hash64_near_dup_pairs

    docs = table(spark, sf, "documents").select("doc_id")
    imgs = _phash_pattern_frame(docs)
    media = synth_pattern_images(imgs)
    decoded = decode_content(media).select("media_id", "phash")
    return hash64_near_dup_pairs(
        decoded, id_col="media_id", hash_col="phash", n_bands=5, max_hamming=4
    )


@register(
    "layout_dpp_cert",
    """SELECT TRUE AS dpp_pruned,
              count(*)::BIGINT AS n_rows,
              sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents_checksum
       FROM orders
       WHERE o_orderdate >= DATE '1994-01-01'
         AND o_orderdate < DATE '1995-01-01'""",
    doc="Dynamic partition pruning, run for real and certified from the "
    "physical plan — the fourth leg of the layout family (z-order file "
    "pruning, bucketed shuffle-free join, compaction are already "
    "certified): the orders fact is written partitionBy(month) to a "
    "run-unique temp path, a small month dimension is written as plain "
    "parquet, and the fact is joined to the dim under a selective dim "
    "predicate (dim_year = 1994). The certification flag asserts the "
    "EXECUTED fact scan carries a dynamicpruning partition filter — "
    "Spark runs the dim side first (reusing its broadcast), collects the "
    "surviving join keys, and prunes fact partitions BEFORE listing/"
    "reading them. On a date-partitioned 100 TB fact this is the single "
    "biggest scan-saver there is: a 12-of-84-month dim filter means "
    "~86% of the fact's files are never opened, with no explicit date "
    "predicate on the fact side. The checksum proves the pruned join "
    "returns exactly the rows the oracle's plain date-range scan "
    "returns. Run-unique paths + cleanup keep concurrent runs isolated "
    "(same discipline as layout_bucketed_join_cert).",
)
def q_layout_dpp_cert(spark: SparkSession, sf: str):
    import shutil
    import tempfile

    run_dir = tempfile.mkdtemp(prefix="spark_graft_dpp_")
    fact = table(spark, sf, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    # repartition on the partition column first: one file per partition
    # instead of tasks × partitions tiny files (the small-files trap every
    # dynamic-partition write at scale must dodge)
    try:
        fact.repartition("month").write.mode("overwrite").partitionBy(
            "month"
        ).parquet(f"{run_dir}/fact")
        dim = spark.sql(
            """SELECT date_format(m, 'yyyy-MM') AS month, year(m) AS dim_year
               FROM (SELECT explode(sequence(DATE '1992-01-01', DATE '1998-12-01',
                                             INTERVAL 1 MONTH)) AS m)"""
        )
        dim.write.mode("overwrite").parquet(f"{run_dir}/dim")
        f = spark.read.parquet(f"{run_dir}/fact")
        d = spark.read.parquet(f"{run_dir}/dim").filter(F.col("dim_year") == 1994)
        joined = f.join(d, "month")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        dpp = "dynamicpruning" in plan
        result = (
            joined.groupBy()
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("cents_checksum"),
            )
            .select(F.lit(dpp).alias("dpp_pruned"), "n_rows", "cents_checksum")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return result


@register(
    "dedup_quality_survivors",
    f"""WITH RECURSIVE {SIG_CTE},
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
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE r.u <> e.v),
       labels AS (
         SELECT u AS doc_id, least(u, min(v))::BIGINT AS cluster_id
         FROM reach GROUP BY u),
       m AS (
         SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                d.n_chars::BIGINT AS n_chars
         FROM documents d LEFT JOIN labels l USING (doc_id)),
       r AS (
         SELECT *, row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, doc_id) AS rn
         FROM m)
       SELECT doc_id, cluster_id, n_chars FROM r WHERE rn = 1""",
    doc="Quality-aware dedup survivor selection: the near-dup clusters "
    "(MinHash -> LSH bands -> connected components, the certified "
    "machinery of dedup_corpus_survivors) each keep their LONGEST member "
    "(n_chars DESC, id tiebreak) instead of the minimum id — the rule "
    "production pipelines actually use (the longest duplicate usually "
    "carries the least-truncated content; RefinedWeb/SlimPajama keep "
    "best-by-heuristic, not first-by-id). Integer quality key keeps the "
    "choice engine-exact; unclustered docs survive as their own "
    "1-cluster. Scale shape: unchanged from the certified CC stack "
    "(band equi-join, star-contraction CC, labels ∝ clustered docs) "
    "plus one cluster-partitioned rank window over the labeled subset.",
)
def q_dedup_quality_survivors(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.operators.cluster import connected_components

    docs = table(spark, sf, "documents")
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(lsh_band_keys(sig)).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    m = (
        docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "n_chars")
    )


@register(
    "layout_sort_compression_cert",
    """SELECT TRUE AS sorted_smaller, count(*)::BIGINT AS n_rows,
              sum(l_orderkey)::BIGINT AS key_checksum
       FROM lineitem""",
    doc="Sort-for-compression layout certification, run for real: the "
    "same lineitem projection is written twice — once in deterministic "
    "hash-shuffled order (the worst case: every column's values "
    "interleaved), once sorted by (l_returnflag, l_linestatus, "
    "l_shipdate, l_partkey) — and the certification flag asserts the "
    "SORTED file set is strictly smaller on disk: sorting co-locates "
    "equal and near-equal values, so parquet's RLE/dictionary/delta "
    "encodings actually bite. At 100 TB this is a first-order storage "
    "and scan-cost lever (the reason z-ordering and sort-on-write "
    "exist): same bytes of information, a fraction of the footprint, "
    "and min/max row-group pruning becomes usable on the sort keys. "
    "The checksum certifies both layouts hold exactly the same rows. "
    "Run-unique temp paths, cleaned up in finally.",
)
def q_layout_sort_compression(spark: SparkSession, sf: str):
    import shutil
    import tempfile

    from annotations_ingester_spark.functions.hashing import md5_hash64

    run_dir = tempfile.mkdtemp(prefix="spark_graft_sortc_")
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    try:
        # both layouts get IDENTICAL file counts (8) so the comparison
        # isolates row ORDER — file-count overhead asymmetry at small sf
        # would otherwise drown the encoding effect
        shuffled = (
            li.withColumn(
                "_rk",
                md5_hash64(
                    F.concat_ws(
                        ":",
                        F.lit("sortc"),
                        F.col("l_orderkey").cast("string"),
                        F.col("l_partkey").cast("string"),
                    )
                ),
            )
            .repartition(8, "_rk")
            .sortWithinPartitions("_rk")
            .drop("_rk")
        )
        srt = li.repartition(8).sortWithinPartitions(
            "l_returnflag", "l_linestatus", "l_shipdate", "l_partkey"
        )
        # the two layouts are INDEPENDENT jobs over the same scan — submit
        # both concurrently so the second write back-fills the first's
        # straggler tail instead of waiting for it (guide §2.6,
        # catalog.run_concurrently); rows written are identical to the
        # sequential form.
        run_concurrently(
            lambda: shuffled.write.mode("overwrite").parquet(f"{run_dir}/unsorted"),
            lambda: srt.write.mode("overwrite").parquet(f"{run_dir}/sorted"),
        )

        def dir_bytes(p: str) -> int:
            import os

            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(p)
                for f in files
                if f.endswith(".parquet")
            )

        smaller = dir_bytes(f"{run_dir}/sorted") < dir_bytes(f"{run_dir}/unsorted")
        result = (
            spark.read.parquet(f"{run_dir}/sorted")
            .groupBy()
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("l_orderkey").cast("long").alias("key_checksum"),
            )
            .select(F.lit(smaller).alias("sorted_smaller"), "n_rows", "key_checksum")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return result


@register(
    "media_audio_frame_energy",
    """WITH s AS (
         SELECT doc_id AS media_id, unnest(range(0, 256)) AS i
         FROM documents),
       v AS (
         SELECT media_id, i, (i // 64)::BIGINT AS frame_idx,
                ((media_id * 31 + i * 17) % 4096) - 2048 AS smp
         FROM s),
       z AS (
         SELECT media_id, frame_idx, smp,
                lag(smp) OVER (PARTITION BY media_id, frame_idx
                               ORDER BY i) AS prev
         FROM v)
       SELECT media_id, frame_idx, 64::BIGINT AS n_samples,
              sum(smp * smp)::BIGINT AS energy,
              sum(CASE WHEN prev IS NOT NULL
                        AND ((smp >= 0) <> (prev >= 0))
                  THEN 1 ELSE 0 END)::BIGINT AS zero_crossings
       FROM z GROUP BY media_id, frame_idx""",
    doc="CONTENT-level audio feature extraction, run end-to-end on real "
    "bytes: every doc becomes a genuine mono 16-bit PCM WAV (RIFF "
    "container written AND re-parsed by the stdlib wave module) whose "
    "samples are an arithmetic function of (media_id, i); the decoder "
    "unpacks the PCM stream in-partition (Arrow-batched mapInPandas, "
    "payload bytes never shuffle) and emits per-64-sample-frame ENERGY "
    "(exact integer sum of squares — the VAD/silence-trim loudness "
    "feature) and ZERO-CROSSING counts (the classical pitch/noisiness "
    "feature). The oracle predicts every sample arithmetically, so a "
    "hash match certifies synth -> container parse -> PCM unpack -> "
    "framing -> features bit-for-bit — the audio twin of "
    "media_phash_near_dup_pairs' image pipeline. A librosa/ffmpeg "
    "spectrogram drops in at the same seam for codec formats.",
)
def q_media_audio_energy(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import (
        audio_frame_energy,
        synth_wav_images,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synth_wav_images(docs)
    return audio_frame_energy(media, frame_samples=64)


@register(
    "media_phash_clusters",
    f"""WITH RECURSIVE {_PHASH_PAT_CTE},
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM pat a JOIN pat b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 4),
       edges AS (
         SELECT doc_a AS u, doc_b AS v FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE r.u <> e.v),
       labels AS (
         SELECT u AS doc_id, least(u, min(v))::BIGINT AS cluster_id
         FROM reach GROUP BY u)
       SELECT cluster_id, count(*)::BIGINT AS n_images,
              min(doc_id)::BIGINT AS exemplar
       FROM labels GROUP BY cluster_id""",
    doc="Image near-duplicate CLUSTERS: the banded phash pairs "
    "(media_phash_near_dup_pairs' certified synth -> decode -> band -> "
    "verify pipeline) transitively closed into connected components with "
    "per-cluster size + exemplar — the image-side twin of "
    "dedup_duplicate_clusters, i.e. the artifact an image-dedup pass "
    "actually consumes (keep one exemplar per cluster). Same scale "
    "shape as the text CC stack: banded equi-join candidates, "
    "star-contraction CC whose state is labels, never payloads. "
    "Oracle: exact Hamming-threshold join over the predicted phashes + "
    "recursive-CTE closure.",
)
def q_media_phash_clusters(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import (
        decode_content,
        synth_pattern_images,
    )
    from annotations_ingester_spark.operators.cluster import connected_components
    from annotations_ingester_spark.operators.dedup import hash64_near_dup_pairs

    docs = table(spark, sf, "documents").select("doc_id")
    imgs = _phash_pattern_frame(docs)
    decoded = decode_content(synth_pattern_images(imgs)).select(
        "media_id", "phash"
    )
    pairs = hash64_near_dup_pairs(
        decoded, id_col="media_id", hash_col="phash", n_bands=5, max_hamming=4
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    return cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_images"),
        F.min("node").cast("long").alias("exemplar"),
    )


@register(
    "format_schema_evolution_cert",
    """SELECT TRUE AS merged_schema_ok,
              count(*)::BIGINT AS n_rows,
              sum(CASE WHEN o_orderkey % 2 = 0
                       THEN round(o_totalprice * 100)::BIGINT END)::BIGINT
                AS new_col_checksum,
              sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                AS n_null_new_col
       FROM orders""",
    doc="Schema-evolution certification, run for real: the same logical "
    "table lands as two parquet generations — v1 files carry "
    "(o_orderkey, status), v2 files add a cents column — and the merged "
    "read (mergeSchema) must (a) surface the union schema, (b) read the "
    "new column as NULL across every v1 row (counted exactly), and (c) "
    "preserve the new column's values across v2 rows (integer "
    "checksum). This is the append-only lakehouse's most common "
    "migration: new columns arrive without rewriting history, and the "
    "read side is where correctness lives. At 100 TB the same read "
    "works file-by-file — schema merge is metadata-only, no data "
    "rewrite. Run-unique temp dirs, cleaned in finally.",
)
def q_format_schema_evolution(spark: SparkSession, sf: str):
    import shutil
    import tempfile

    run_dir = tempfile.mkdtemp(prefix="spark_graft_schevo_")
    orders = table(spark, sf, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.col("o_orderstatus").alias("status")
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    try:
        v1.write.mode("overwrite").parquet(f"{run_dir}/t/gen=1")
        v2.write.mode("overwrite").parquet(f"{run_dir}/t/gen=2")
        merged = spark.read.option("mergeSchema", "true").parquet(f"{run_dir}/t")
        ok = {"o_orderkey", "status", "cents"} <= set(merged.columns)
        result = (
            merged.groupBy()
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("new_col_checksum"),
                F.sum(F.col("cents").isNull().cast("long")).cast("long").alias(
                    "n_null_new_col"
                ),
            )
            .select(
                F.lit(ok).alias("merged_schema_ok"),
                "n_rows",
                "new_col_checksum",
                "n_null_new_col",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return result


@register(
    "eval_minhash_estimator",
    f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id
           AND ('0x' || substr(md5('mhsample:' || a.doc_id::VARCHAR || ':'
                                   || b.doc_id::VARCHAR), 1, 15))::BIGINT
               % 4 = 0),
       agree AS (
         SELECT c.doc_a, c.doc_b,
                sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::BIGINT
                  AS n_agree
         FROM cand c
         JOIN sig sa ON sa.doc_id = c.doc_a
         JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
         GROUP BY c.doc_a, c.doc_b),
       cids AS (
         SELECT doc_a AS doc_id FROM cand
         UNION SELECT doc_b FROM cand),
       sh AS (
         SELECT d2.doc_id, list_distinct(d2.sh) AS s
         FROM d2 JOIN cids ON cids.doc_id = d2.doc_id),
       sized AS (SELECT doc_id, len(s)::BIGINT AS sz, s FROM sh),
       ex AS (SELECT doc_id, sz, unnest(s) AS shingle FROM sized),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.sz AS sz_a, b.sz AS sz_b, count(*)::BIGINT AS n_inter
         FROM ex a JOIN ex b ON a.shingle = b.shingle
         WHERE a.doc_id < b.doc_id
         GROUP BY doc_a, doc_b, sz_a, sz_b)
       SELECT g.doc_a, g.doc_b, g.n_agree,
              round(g.n_agree / 8.0, 6) AS est_jaccard,
              round(coalesce(i.n_inter * 1.0
                             / (i.sz_a + i.sz_b - i.n_inter), 0.0), 6)
                AS exact_jaccard,
              round(abs(g.n_agree / 8.0
                        - coalesce(i.n_inter * 1.0
                                   / (i.sz_a + i.sz_b - i.n_inter), 0.0)), 6)
                AS abs_err
       FROM agree g
       LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b""",
    doc="MinHash ESTIMATOR quality, value-level (the companion to "
    "eval_lsh_precision_recall's set-level view): for every LSH "
    "candidate pair, the Jaccard estimate implied by the signatures "
    "(agreeing seeds / 8 — the unbiased MinHash estimator) against the "
    "exact shingle Jaccard, with the absolute error — the query that "
    "tells you whether 8 permutations is enough RESOLUTION for the "
    "downstream threshold, distinct from whether the bands RECALL the "
    "pairs. Seed agreement is deterministic (the signatures are the "
    "certified md5 family), so the estimate is exact on both engines; "
    "the exact tier reuses the shingle-intersection verification "
    "machinery over the bounded candidate set. One signature self-join "
    "keyed on (doc, seed) + the certified band/verify shapes.",
)
def q_eval_minhash_estimator(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        _shingle_intersections,
    )

    docs = table(spark, sf, "documents")
    sig = minhash_signatures(docs).transform(ckpt)  # bands + both
    # agreement sides reuse the 8-row/doc signature frame
    # the candidate pair list feeds the agreement join AND the exact
    # tier's doc restriction — materialize the tiny frame once
    # deterministic 1-in-4 pair sample: the estimator-resolution metric
    # is statistical — a stable hash-chosen subset of candidate pairs is
    # equally informative at a quarter of the verification cost (the
    # sampling contract of weighted_downsample, applied to pairs)
    from annotations_ingester_spark.functions.hashing import md5_hash64

    cand = (
        lsh_candidate_pairs(lsh_band_keys(sig))
        .select("doc_a", "doc_b")
        .filter(
            F.pmod(
                md5_hash64(
                    F.concat_ws(
                        ":",
                        F.lit("mhsample"),
                        F.col("doc_a").cast("string"),
                        F.col("doc_b").cast("string"),
                    )
                ),
                F.lit(4),
            )
            == 0
        )
        .transform(ckpt)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("mh_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("mh_b")
    )
    agree = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("mh_a") == F.col("mh_b")).cast("long"))
            .cast("long")
            .alias("n_agree")
        )
    )
    # verification tier over CANDIDATE DOCS ONLY — the shingle join is
    # the verify step, never corpus-wide discovery (ngram_jaccard_pairs'
    # own contract); candidate ids bound the exact tier at any scale
    cid = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    inter = _shingle_intersections(
        docs.join(cid, "doc_id", "left_semi"), "text", "doc_id", 3
    )
    exact = F.coalesce(
        F.col("n_inter") * 1.0
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        F.lit(0.0),
    )
    return (
        agree.join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.round(F.col("n_agree") / 8.0, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("n_agree") / 8.0 - exact), 6).alias("abs_err"),
        )
    )


# ---- Round-7 scale additions ---------------------------------------------


@register(
    "tf_cosine_doc_pairs",
    f"""WITH tok AS (SELECT doc_id, unnest({TOKS}) AS w FROM documents),
       tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       dfq AS (SELECT w FROM tf GROUP BY w HAVING count(*) BETWEEN 2 AND 100),
       k AS (SELECT tf.doc_id, tf.w, tf.tf FROM tf JOIN dfq USING (w)),
       nrm AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM k GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    sum(a.tf * b.tf)::BIGINT AS dot
             FROM k a JOIN k b ON a.w = b.w AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT doc_a, doc_b, dot,
              round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
       FROM p JOIN nrm na ON na.doc_id = doc_a
              JOIN nrm nb ON nb.doc_id = doc_b
       WHERE (dot / (sqrt(na.n2) * sqrt(nb.n2))) >= 0.6""",
    doc="Sparse lexical cosine similarity pairs — the term-frequency-"
    "vector counterpart to the Jaccard/SimHash dedup tiers (catches "
    "reordered/partially-rewritten docs that set-similarity underrates): "
    "docs pair through an equi-join on shared DISCRIMINATIVE terms "
    "(document frequency 2..100 — the df cap excludes stopword-grade "
    "terms, bounding every posting list's join fan-out to df^2/2; the "
    "classic DAAT pruning), dot products and squared norms are EXACT "
    "integer sums over the same capped term space, and cosine = "
    "dot/(sqrt(n2_a)*sqrt(n2_b)) >= 0.6 is sqrt-only float (IEEE-"
    "identical across engines). Scale shape: token explode -> map-"
    "side-combinable tf -> df-capped posting join (zipfian key -> AQE "
    "skew split) -> pair aggregate; never all-pairs, state ∝ capped "
    "postings. The capped tf frame is localCheckpoint'ed once and "
    "feeds norms + both join sides.",
)
def q_tf_cosine_pairs(spark: SparkSession, sf: str):
    tf = (
        table(spark, sf, "documents")
        .select("doc_id", F.explode(tx.tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfq = tf.groupBy("w").agg(F.count("*").alias("_df")).filter(
        F.col("_df").between(2, 100)
    ).select("w")
    k = tf.join(dfq, "w").transform(ckpt)
    nrm = k.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("n2")
    )
    a = k.select(F.col("doc_id").alias("doc_a"), "w", F.col("tf").alias("tfa"))
    b = k.select(F.col("doc_id").alias("doc_b"), "w", F.col("tf").alias("tfb"))
    p = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).cast("long").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    j = p.join(na, "doc_a").join(nb, "doc_b")
    cos = F.col("dot") / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b")))
    return j.filter(cos >= 0.6).select(
        "doc_a", "doc_b", "dot", F.round(cos, 6).alias("cosine")
    )


@register(
    "media_audio_silence_segments",
    """WITH s AS (
         SELECT doc_id AS media_id, unnest(range(0, 16))::BIGINT AS f
         FROM documents),
       sil AS (SELECT media_id, f FROM s
               WHERE ((f // 3) + media_id) % 3 = 0),
       g AS (SELECT media_id, f,
                    f - row_number() OVER (PARTITION BY media_id
                                           ORDER BY f) AS grp
             FROM sil)
       SELECT media_id, min(f)::BIGINT AS start_frame,
              count(*)::BIGINT AS n_frames
       FROM g GROUP BY media_id, grp""",
    doc="Silence-segment detection over REAL decoded audio — the VAD/"
    "silence-trim primitive every speech pipeline runs before chunking: "
    "each doc becomes a genuine 1024-sample PCM WAV with arithmetic "
    "silence gating (synth_pcm_wav_gated: 64-sample frame f is all-zero "
    "iff ((f//3)+id)%3 = 0), the certified audio_frame_energy decoder "
    "extracts per-frame energies in-partition, and zero-energy frames "
    "collapse into maximal contiguous segments via the gaps-and-islands "
    "rank difference (media-partitioned window, never global). The "
    "oracle predicts the silent-frame set arithmetically and runs the "
    "same islands reduction, so a hash match certifies synth -> RIFF "
    "parse -> PCM unpack -> framing -> energy -> segmentation "
    "end-to-end. Scale shape: payload bytes never shuffle (mapInPandas "
    "in the blob's partition); only ~40-byte frame rows enter the "
    "window; segments ∝ silent runs.",
)
def q_media_audio_silence(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.multimodal.media import (
        audio_frame_energy,
        synth_wav_gated_images,
    )

    docs = table(spark, sf, "documents").select(F.col("doc_id").alias("media_id"))
    fr = audio_frame_energy(synth_wav_gated_images(docs), frame_samples=64)
    sil = fr.filter(F.col("energy") == 0).select("media_id", "frame_idx")
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    g = sil.withColumn("grp", F.col("frame_idx") - F.row_number().over(w))
    return g.groupBy("media_id", "grp").agg(
        F.min("frame_idx").cast("long").alias("start_frame"),
        F.count("*").cast("long").alias("n_frames"),
    ).drop("grp")


@register(
    "sketch_minhash_mergeable",
    f"""WITH d AS (SELECT source, {TOKS} AS t FROM documents),
       d2 AS (SELECT source, {SHINGLES} AS sh FROM d WHERE len(t) >= 3),
       shx AS (SELECT source, {HASH.format(e="u.shingle")} AS h
               FROM (SELECT source, unnest(sh) AS shingle FROM d2) u),
       seeds AS (SELECT unnest(range(0, 8)) AS seed),
       ps AS (SELECT shx.source, seeds.seed,
                     min(xor(h, {HASH.format(e="seeds.seed::VARCHAR")})) AS mh
              FROM shx, seeds GROUP BY 1, 2),
       merged AS (SELECT seed::BIGINT AS seed, min(mh)::BIGINT AS merged_minhash
                  FROM ps GROUP BY 1),
       direct AS (SELECT seeds.seed::BIGINT AS seed,
                         min(xor(h, {HASH.format(e="seeds.seed::VARCHAR")}))::BIGINT
                           AS direct_minhash
                  FROM shx, seeds GROUP BY 1)
       SELECT d.seed, d.direct_minhash, m.merged_minhash,
              d.direct_minhash = m.merged_minhash AS merge_exact
       FROM direct d JOIN merged m USING (seed)""",
    doc="MinHash MERGEABILITY certification — the sketch-algebra property "
    "the whole distributed dedup stack rests on (min is a commutative "
    "idempotent monoid, so signature-of-union = element-wise min of "
    "signatures): per-source 8-seed MinHash partials fold with one more "
    "min into the corpus signature, certified equal per seed against the "
    "signature computed DIRECTLY from the raw shingle stream. This is "
    "the HLL/quantile-sketch rollup pattern (sketch_mergeable_rollup, "
    "quantile_disc_certified) applied to the dedup family's own sketch: "
    "a 1000-executor pass can MinHash per partition/source and merge "
    "map-side, never re-reading payloads. Same hash family as "
    "operators/dedup.py (md5-60bit x per-seed XOR bijection). Scale "
    "shape: two shingle-explode aggregates (partial min combine), state "
    "= sources x 8 longs.",
)
def q_sketch_minhash_mergeable(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    per_src = minhash_signatures(
        docs.select(F.col("source"), "text"), id_col="source"
    )
    merged = per_src.groupBy("seed").agg(
        F.min("minhash").cast("long").alias("merged_minhash")
    )
    direct = minhash_signatures(
        docs.select(F.lit("all").alias("corpus"), "text"), id_col="corpus"
    ).select("seed", F.col("minhash").cast("long").alias("direct_minhash"))
    return direct.join(merged, "seed").select(
        "seed",
        "direct_minhash",
        "merged_minhash",
        (F.col("direct_minhash") == F.col("merged_minhash")).alias("merge_exact"),
    )


# code-detection heuristic constants (pinned; the score is milli-units)
_CODE_SYM = r"[{}();=<>\[\]]"
_CODE_INDENT = r"(?m)^(  +|\t)"
_CODE_SNAKE = "[a-z]+_[a-z]+"
_CODE_CAMEL = "[a-z][A-Z]"
_CODE_THRESHOLD_MILLI = 30.0


@register(
    "text_code_detect",
    f"""WITH c AS (
         SELECT doc_id,
                greatest(length(text), 1)::BIGINT AS n_chars,
                len(regexp_extract_all(text, '{_CODE_SYM}'))::BIGINT AS n_sym,
                len(regexp_extract_all(text, '{_CODE_INDENT}'))::BIGINT
                  AS n_indent,
                (len(regexp_extract_all(text, '{_CODE_SNAKE}'))
                 + len(regexp_extract_all(text, '{_CODE_CAMEL}')))::BIGINT
                  AS n_ident
         FROM documents WHERE text IS NOT NULL),
       s AS (
         SELECT doc_id, n_chars, n_sym, n_indent, n_ident,
                1000.0 * (2.0 * n_sym + 10.0 * n_indent + n_ident) / n_chars
                  AS score
         FROM c)
       SELECT doc_id, n_sym, n_indent, n_ident,
              round(score, 4) AS code_score_milli,
              score > {_CODE_THRESHOLD_MILLI!r} AS is_code
       FROM s""",
    doc="Code-vs-prose detection (the source-code routing step every "
    "mixed-corpus training pipeline runs before tokenizer/quality "
    "decisions — code wants different dedup and quality gates than "
    "prose): per doc, counts of code-symbol characters, indented "
    "lines, and snake_case/camelCase identifiers (three pinned "
    "regexes over ONE scan-fused projection — no explode, no shuffle), "
    "combined as a weighted milli-score with a pinned threshold. The "
    "flag compares the UNROUNDED score (identical IEEE tree both "
    "engines); the score rounds once for display. Scale shape: "
    "stateless per-row projection — whole-stage-codegen regex CPU, "
    "embarrassingly parallel at any corpus size.",
)
def q_text_code_detect(spark: SparkSession, sf: str):
    t = table(spark, sf, "documents").filter(F.col("text").isNotNull())
    cnt = lambda pat: F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).cast(  # noqa: E731
        "long"
    )
    c = t.select(
        "doc_id",
        F.greatest(F.length("text"), F.lit(1)).cast("long").alias("n_chars"),
        cnt(_CODE_SYM.replace("\\", "\\\\")).alias("n_sym"),
        cnt(_CODE_INDENT).alias("n_indent"),
        (cnt(_CODE_SNAKE) + cnt(_CODE_CAMEL)).alias("n_ident"),
    )
    score = (
        1000.0
        * (2.0 * F.col("n_sym") + 10.0 * F.col("n_indent") + F.col("n_ident"))
        / F.col("n_chars")
    )
    return c.select(
        "doc_id",
        "n_sym",
        "n_indent",
        "n_ident",
        F.round(score, 4).alias("code_score_milli"),
        (score > _CODE_THRESHOLD_MILLI).alias("is_code"),
    )


# --- round-10: LSH banding parameter sweep -----------------------------------

_SWEEP_RPB = (1, 2, 4)  # rows-per-band configs over the 8-seed signature


def _banding_sweep_oracle() -> str:
    arms = []
    for rpb in _SWEEP_RPB:
        arms.append(f"""SELECT {8 // rpb}::BIGINT AS n_bands,
              {rpb}::BIGINT AS rows_per_band,
              count(DISTINCT (doc_a, doc_b))::BIGINT AS n_candidate_pairs,
              count(DISTINCT doc)::BIGINT AS n_docs_flagged
       FROM (
         SELECT doc_a, doc_b, unnest([doc_a, doc_b]) AS doc
         FROM (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM (SELECT doc_id, seed // {rpb} AS band,
                        md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed))
                          AS band_key
                 FROM sig GROUP BY doc_id, seed // {rpb}) a
           JOIN (SELECT doc_id, seed // {rpb} AS band,
                        md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed))
                          AS band_key
                 FROM sig GROUP BY doc_id, seed // {rpb}) b
             ON a.band = b.band AND a.band_key = b.band_key
           WHERE a.doc_id < b.doc_id))""")
    body = "\n       UNION ALL\n       ".join(arms)
    return f"WITH {SIG_CTE}\n       {body}"


@register(
    "dedup_lsh_banding_sweep",
    None,  # oracle assembled below (shares SIG_CTE across the three arms)
    doc="LSH banding parameter sweep — the TUNING artifact behind the "
    "pinned production banding: for rows-per-band in (1, 2, 4) over "
    "the same 8-seed MinHash signature (8x1 / 4x2 / 2x4 bands), the "
    "candidate-pair count and the number of documents flagged. The "
    "S-curve tradeoff made measurable: fewer rows per band = higher "
    "recall + more noise (8x1 is the link-prediction grade), more "
    "rows = precision (2x4 pairs only near-identical docs); "
    "eval_lsh_precision_recall scores ONE config against exact truth, "
    "this query shows the whole dial. Scale shape: the signature "
    "table is computed ONCE (localCheckpoint — one documents scan for "
    "all three arms); each arm is the standard (band, band_key) "
    "bucketed self-join — never all-pairs; 3-row output.",
)
def q_lsh_banding_sweep(spark: SparkSession, sf: str):
    sig = minhash_signatures(table(spark, sf, "documents")).transform(ckpt)
    arms = []
    for rpb in _SWEEP_RPB:
        pairs = lsh_candidate_pairs(lsh_band_keys(sig, rows_per_band=rpb)).select(
            "doc_a", "doc_b"
        )
        docs = pairs.select(F.col("doc_a").alias("doc")).unionAll(
            pairs.select(F.col("doc_b").alias("doc"))
        )
        arm = pairs.agg(F.count("*").cast("long").alias("n_candidate_pairs")).crossJoin(
            F.broadcast(
                docs.agg(F.countDistinct("doc").cast("long").alias("n_docs_flagged"))
            )
        ).select(
            F.lit(8 // rpb).cast("long").alias("n_bands"),
            F.lit(rpb).cast("long").alias("rows_per_band"),
            "n_candidate_pairs",
            "n_docs_flagged",
        )
        arms.append(arm)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


from annotations_ingester_spark.plans.catalog import REGISTRY as _REG_SWEEP  # noqa: E402

_REG_SWEEP["dedup_lsh_banding_sweep"].oracle = _banding_sweep_oracle()


# --- round-11 head start: cross-split substring contamination ----------------

from annotations_ingester_spark.functions.hashing import md5_hash64_sql as _mh64  # noqa: E402

_XS_SPLIT = _mh64("'split:' || doc_id::VARCHAR")


@register(
    "dedup_substring_cross_split",
    f"""WITH d AS (
         SELECT doc_id, {TOKS} AS t,
                ({_XS_SPLIT} % 100 < 80) AS is_train
         FROM documents WHERE text IS NOT NULL),
       sh AS (SELECT doc_id, is_train, {_NGRAM5} AS s FROM d WHERE len(t) >= 5),
       g AS (
         SELECT doc_id, is_train, u.x.p::BIGINT AS pos,
                {HASH.format(e="u.x.g")} AS gram_hash
         FROM (SELECT doc_id, is_train,
                      unnest(list_transform(range(len(s)),
                                            i -> {{'p': i, 'g': s[i + 1]}})) AS x
               FROM sh) u),
       tr AS (SELECT DISTINCT gram_hash FROM g WHERE is_train),
       hits AS (SELECT g.doc_id, g.pos FROM g JOIN tr USING (gram_hash)
                WHERE NOT g.is_train),
       lagd AS (
         SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                          OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS new_i
         FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       isl AS (
         SELECT doc_id, pos,
                sum(new_i) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS island_id
         FROM lagd),
       spans AS (
         SELECT doc_id, (max(pos) + 4 - min(pos) + 1)::BIGINT AS span_len
         FROM isl GROUP BY doc_id, island_id
         HAVING (max(pos) + 4 - min(pos) + 1) >= 10),
       pd AS (SELECT doc_id, sum(span_len)::BIGINT AS contaminated_tokens
              FROM spans GROUP BY doc_id)
       SELECT d.doc_id, len(d.t)::BIGINT AS total_tokens,
              coalesce(pd.contaminated_tokens, 0)::BIGINT
                AS contaminated_tokens,
              round(coalesce(pd.contaminated_tokens, 0)
                    / greatest(len(d.t), 1), 6) AS contamination_frac
       FROM d LEFT JOIN pd USING (doc_id)
       WHERE NOT d.is_train""",
    doc="Eval-set contamination at SUBSTRING granularity: hash-split the "
    "corpus 80/20 (the split_hash_assign discipline), flag every >= "
    "10-token run in a TEST document whose 5-gram anchors all appear "
    "somewhere in TRAIN — per test doc, the contaminated token count "
    "and fraction. The substring-level refinement of "
    "decontamination_ngram_overlap (doc-level overlap scores): a "
    "benchmark answer quoted verbatim inside a training page surfaces "
    "as one long contaminated run even when the documents share "
    "little else — the Lee-et-al decontamination primitive applied "
    "across the split boundary. Scale shape: pre-shuffle gram hashes, "
    "a map-side-combined distinct train-gram dim joined back on the "
    "hash (broadcast under threshold, SMJ+AQE beyond), one "
    "doc-partitioned islands window, one keyed agg "
    "(operators/dedup.py cross_split_substring_contamination).",
)
def q_substring_cross_split(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import (
        cross_split_substring_contamination,
    )

    return cross_split_substring_contamination(table(spark, sf, "documents"))


# --- round-11: soft deduplication (down-weighting instead of removal) ---------

_SOFT_BAG_KEY = f"md5(array_to_string(list_sort(list_distinct({TOKS})), ' '))"


@register(
    "dedup_soft_weights",
    f"""WITH d AS (
         SELECT doc_id, source, {_SOFT_BAG_KEY} AS gk
         FROM documents WHERE text IS NOT NULL),
       cs AS (SELECT gk, count(*)::BIGINT AS sz FROM d GROUP BY gk),
       w AS (SELECT d.source, cs.sz FROM d JOIN cs USING (gk))
       SELECT source,
              count(*)::BIGINT AS n_docs,
              sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
              round(CAST(sum(round(1.0 / sz, 9)::DECIMAL(20,9)) AS DOUBLE),
                    4) AS effective_docs,
              round(count(*)
                    / CAST(sum(round(1.0 / sz, 9)::DECIMAL(20,9)) AS DOUBLE),
                    4) AS duplication_inflation
       FROM w GROUP BY source""",
    doc="Soft deduplication per source: instead of dropping duplicates "
    "(dedup_corpus_survivors) each doc gets sampling weight "
    "1/cluster_size over the bag-of-words content clusters, so every "
    "cluster contributes exactly one effective document spread over "
    "its members — the down-weighting strategy (SoftDeDup) that "
    "preserves rare within-cluster variants a hard survivor pick "
    "discards. Reports per-source effective corpus size (sum of "
    "weights, 9-dp DECIMAL sum) and the duplication inflation factor "
    "n/effective — the multiplier a loss-weighted trainer must "
    "expect. Clusters span sources, so the per-source effective "
    "mass is NOT simply its cluster count (the cross-source quote "
    "case). Scale shape: one rollup on the content key, one "
    "re-join of the tiny size table onto the doc list (broadcast-"
    "able), one per-source aggregate — exact-dedup cost, no window.",
)
def q_dedup_soft_weights(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions import text as _tx

    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.md5(
                F.concat_ws(
                    " ", F.array_sort(F.array_distinct(_tx.tokens("text")))
                )
            ).alias("gk"),
        )
    ).transform(ckpt)  # narrow (id, source, key); feeds 2 uses
    cs = d.groupBy("gk").agg(F.count("*").cast("long").alias("sz"))
    w = d.join(cs, "gk").select("source", "sz")
    eff = F.sum(F.round(1.0 / F.col("sz"), 9).cast("decimal(20,9)"))
    return w.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.round(eff.cast("double"), 4).alias("effective_docs"),
        F.round(F.count("*") / eff.cast("double"), 4).alias(
            "duplication_inflation"
        ),
    )


# --- round-11: audio clipping audit -------------------------------------------

_CLIP_THRESHOLD = 2000  # near-full-scale for the +-2048 synthetic dial
_CLIP_RATIO_GATE = 0.02


@register(
    "media_audio_clipping",
    f"""WITH s AS (
         SELECT doc_id AS media_id, unnest(range(0, 256)) AS i
         FROM documents),
       v AS (
         SELECT media_id,
                ((media_id * 31 + i * 17) % 4096) - 2048 AS smp
         FROM s),
       a AS (SELECT media_id, count(*)::BIGINT AS n_samples,
                    max(abs(smp))::BIGINT AS peak_amplitude,
                    sum(CASE WHEN abs(smp) >= {_CLIP_THRESHOLD}
                        THEN 1 ELSE 0 END)::BIGINT AS n_clipped
             FROM v GROUP BY media_id)
       SELECT media_id, n_samples, peak_amplitude, n_clipped,
              round(n_clipped * 1.0 / n_samples, 6) AS clip_ratio,
              round(n_clipped * 1.0 / n_samples, 6) >= {_CLIP_RATIO_GATE!r}
                AS clipped
       FROM a""",
    doc="Audio clipping audit, run end-to-end on real bytes: every doc "
    "becomes a genuine mono 16-bit PCM WAV (the synth_pcm_wav "
    "arithmetic pseudo-signal), the decoder unpacks the PCM stream "
    "in-partition (Arrow-batched mapInPandas — payload bytes never "
    "shuffle) and counts samples at/above the pinned near-full-scale "
    "threshold plus the peak amplitude; the flag gates on the "
    "ROUNDED clip ratio. The oracle predicts every sample "
    "arithmetically, so a hash match certifies synth -> RIFF parse "
    "-> PCM unpack -> threshold count bit-for-bit — the "
    "gain-staging companion to media_audio_frame_energy (loudness) "
    "and media_audio_silence_segments (gaps). Scale shape: "
    "embarrassingly parallel per blob, one integer row out each.",
)
def q_media_audio_clipping(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import (
        audio_clipping_stats,
        synth_wav_images,
    )

    docs = table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = synth_wav_images(docs)
    a = audio_clipping_stats(media, clip_threshold=_CLIP_THRESHOLD)
    ratio = F.round(F.col("n_clipped") * 1.0 / F.col("n_samples"), 6)
    return a.select(
        "media_id",
        "n_samples",
        "peak_amplitude",
        "n_clipped",
        ratio.alias("clip_ratio"),
        (ratio >= F.lit(_CLIP_RATIO_GATE)).alias("clipped"),
    )


# --- round-11: multi-probe recall sweep ---------------------------------------

_SWEEP_NPROBES = (1, 5, 9)  # probed buckets incl. self, over the 8-bit code


def _nprobe_sweep_oracle() -> str:
    cos = COS.replace("ce", "c.e").replace("qe", "q.qe")
    cos_p = COS.replace("ce", "c.e").replace("qe", "p.qe")
    arms = []
    for npb in _SWEEP_NPROBES:
        flips = [0] + [1 << i for i in range(npb - 1)]
        arms.append(f"""SELECT {npb}::BIGINT AS n_probes, nq.n_queries,
              coalesce((
                SELECT count(*) FROM (
                  SELECT q_id, vec_id FROM (
                    SELECT q_id, vec_id,
                           row_number() OVER (PARTITION BY q_id
                                              ORDER BY cos DESC, vec_id) AS rn
                    FROM (
                      SELECT DISTINCT p.q_id, c.vec_id,
                             round({cos_p}, 6) AS cos
                      FROM b c
                      JOIN (SELECT q_id, qe, xor(bucket, f.flip) AS bucket
                            FROM q0,
                                 (SELECT unnest({flips!r}) AS flip) f) p
                        ON c.bucket = p.bucket
                      WHERE c.vec_id <> p.q_id))
                  WHERE rn <= 3) pr
                JOIN truth t USING (q_id, vec_id)), 0)::BIGINT AS n_hits
       FROM nq""")
    body = "\n       UNION ALL\n       ".join(arms)
    return f"""WITH b AS (
         SELECT vec_id, embedding::DOUBLE[] AS e,
                {sign_bucket_sql('embedding', 8)} AS bucket
         FROM embeddings),
       q0 AS (SELECT vec_id AS q_id, e AS qe, bucket FROM b
              WHERE vec_id % 101 = 0 AND vec_id < 2000),
       nq AS (SELECT count(*)::BIGINT AS n_queries FROM q0),
       sc AS (SELECT q.q_id, c.vec_id, round({cos}, 6) AS cos
              FROM b c, q0 q WHERE c.vec_id <> q.q_id),
       truth AS (
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS rn
           FROM sc) WHERE rn <= 3),
       res AS ({body})
       SELECT n_probes, n_queries, n_hits,
              round(n_hits * 1.0 / (3 * n_queries), 6) AS recall_at_3
       FROM res"""


@register(
    "ann_nprobe_sweep",
    None,  # assembled below (shares the bucket/truth CTEs across arms)
    doc="Multi-probe ANN tuning sweep — the artifact behind the pinned "
    "probe count: recall@3 against exact brute-force truth for 1 / 5 "
    "/ 9 probed buckets (self + Hamming-1 neighbors over the 8-bit "
    "sign code). ann_multiprobe_topk certifies ONE config's result "
    "set; this measures the whole recall-vs-cost dial (candidate "
    "volume grows linearly with probes — the S-curve the serving "
    "team prices), the ANN counterpart of dedup_lsh_banding_sweep. "
    "Truth and all arms share one bucketed scan (localCheckpoint'ed) "
    "and the ABSOLUTE-size query batch (vec_id%101, capped <2000 — a "
    "job parameter, not a corpus fraction, the sf1-rehearsal lesson "
    "from embedding_cosine_topk). Integer hit counts, one rounded "
    "division per arm row.",
)
def q_ann_nprobe_sweep(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import (
        brute_force_topk,
        multiprobe_bucketed_topk,
    )

    emb = table(spark, sf, "embeddings").transform(ckpt)
    qs = emb.filter(
        (F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 2000)
    ).transform(ckpt)
    nq = qs.agg(F.count("*").cast("long").alias("n_queries"))
    # No checkpoint on truth: its subtree ends in an exchange AQE reuses
    # across the three probe arms (final executed plan: 6 ReusedExchange,
    # zero extra scans — emb/qs checkpoints above still bound the scan
    # count). Order-balanced A/B at sf0.1: min 2.07 s uncheckpointed vs
    # 2.32 s ckpt. Dropping the emb/qs checkpoints too is faster still
    # locally (1.81 s) but re-scans the un-prunable embeddings table per
    # arm — wrong trade at 100 TB, deliberately not taken.
    truth = brute_force_topk(emb, qs, k=3).select("q_id", "vec_id")
    arms = []
    for npb in _SWEEP_NPROBES:
        pred = multiprobe_bucketed_topk(emb, qs, k=3, n_bits=8, n_probes=npb)
        hits = pred.join(truth, ["q_id", "vec_id"]).agg(
            F.count("*").cast("long").alias("n_hits")
        )
        arms.append(
            nq.crossJoin(F.broadcast(hits)).select(
                F.lit(npb).cast("long").alias("n_probes"),
                "n_queries",
                "n_hits",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.select(
        "n_probes",
        "n_queries",
        "n_hits",
        F.round(F.col("n_hits") * 1.0 / (3 * F.col("n_queries")), 6).alias(
            "recall_at_3"
        ),
    )


_REG_SWEEP["ann_nprobe_sweep"].oracle = _nprobe_sweep_oracle()


# --- round-11: image binary-histogram entropy ----------------------------------

_IMG_ENTROPY_FLAT = 0.3  # bits; below = near-blank / near-solid image


@register(
    "media_image_entropy",
    f"""WITH {_PHASH_PAT_CTE},
       hist AS (
         SELECT doc_id AS media_id, 64::BIGINT AS n_pixels,
                bit_count(phash)::BIGINT AS n_bright
         FROM pat),
       h AS (SELECT media_id, n_pixels, n_bright,
                    n_bright * 1.0 / n_pixels AS p
             FROM hist)
       SELECT media_id, n_pixels, n_bright,
              round(CASE WHEN p = 0 OR p = 1 THEN 0.0
                    ELSE -(p * log2(p) + (1 - p) * log2(1 - p)) END, 6)
                AS entropy_bits,
              round(CASE WHEN p = 0 OR p = 1 THEN 0.0
                    ELSE -(p * log2(p) + (1 - p) * log2(1 - p)) END, 6)
                < {_IMG_ENTROPY_FLAT!r} AS near_blank
       FROM h""",
    doc="Image gray-histogram entropy, run end-to-end on real bytes: "
    "every doc becomes a genuine 8x8 grayscale PNG (the planted-"
    "pattern synth of the phash pipeline), the vendored pure-stdlib "
    "decoder recovers pixels in-partition, and the binary bright/"
    "dark histogram yields per-image Shannon entropy — the near-"
    "blank / near-solid screen every image ingest runs before "
    "paying for feature extraction (a tracking pixel or letterboxed "
    "frame carries ~0 bits; phash on it is noise). The oracle "
    "predicts the bright count as bit_count of the planted pattern, "
    "so a hash match certifies synth -> PNG decode -> histogram -> "
    "entropy end to end. Flag on the ROUNDED entropy. Scale shape: "
    "embarrassingly parallel per blob, one integer row out each.",
)
def q_media_image_entropy(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import (
        image_gray_histogram_stats,
        synth_pattern_images,
    )

    docs = table(spark, sf, "documents").select("doc_id")
    media = synth_pattern_images(_phash_pattern_frame(docs))
    hist = image_gray_histogram_stats(media)
    p = F.col("n_bright") * 1.0 / F.col("n_pixels")
    ent = F.round(
        F.when((p == 0) | (p == 1), F.lit(0.0)).otherwise(
            -(p * F.log2(p) + (1 - p) * F.log2(1 - p))
        ),
        6,
    )
    return hist.select(
        "media_id",
        "n_pixels",
        "n_bright",
        ent.alias("entropy_bits"),
        (ent < F.lit(_IMG_ENTROPY_FLAT)).alias("near_blank"),
    )


@register(
    "media_audio_snr",
    """WITH s AS (
         SELECT doc_id AS media_id, unnest(range(0, 256)) AS i
         FROM documents),
       v AS (
         SELECT media_id, (i // 64)::BIGINT AS frame_idx,
                ((media_id * 31 + i * 17) % 4096) - 2048 AS smp
         FROM s),
       fe AS (SELECT media_id, frame_idx,
                     sum(smp * smp)::BIGINT AS energy
              FROM v GROUP BY media_id, frame_idx),
       agg AS (SELECT media_id, count(*)::BIGINT AS n_frames,
                      max(energy)::BIGINT AS peak_energy,
                      min(energy)::BIGINT AS floor_energy
               FROM fe GROUP BY media_id)
       SELECT media_id, n_frames, peak_energy, floor_energy,
              CASE WHEN floor_energy > 0
                   THEN round(10 * log10(peak_energy::DOUBLE / floor_energy),
                              4) END AS snr_db
       FROM agg""",
    doc="CONTENT-level signal-to-noise estimate per audio blob: parse "
    "the real WAV container, frame the PCM stream (64-sample frames), "
    "and report peak vs floor frame energy plus the dynamic-range "
    "proxy 10·log10(peak/floor) dB — the quick audio-quality gate a "
    "speech-corpus ingest runs before expensive ASR (a near-zero "
    "dynamic range means silence or tone; NULL snr for an all-zero "
    "floor frame). Composes the certified audio_frame_energy content "
    "path (stdlib wave parse inside the blob's partition, PCM bytes "
    "never shuffle) with one map-side-combinable per-blob aggregate; "
    "energies stay exact integers, only the final dB is rounded "
    "(multimodal/media.py audio_frame_energy).",
)
def q_media_audio_snr(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import (
        audio_frame_energy,
        synth_wav_images,
    )

    docs = table(spark, sf, "documents").select(F.col("doc_id").alias("media_id"))
    fe = audio_frame_energy(synth_wav_images(docs), frame_samples=64)
    agg = fe.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.max("energy").cast("long").alias("peak_energy"),
        F.min("energy").cast("long").alias("floor_energy"),
    )
    return agg.select(
        "media_id",
        "n_frames",
        "peak_energy",
        "floor_energy",
        F.when(
            F.col("floor_energy") > 0,
            F.round(
                10
                * F.log10(
                    F.col("peak_energy").cast("double") / F.col("floor_energy")
                ),
                4,
            ),
        ).alias("snr_db"),
    )


# --- round-12: applied-dedup observability + asymmetric overlap ----------------


@register(
    "dedup_minhash_containment",
    f"""WITH {SIG_CTE},
       band AS (
         SELECT doc_id, seed // 2 AS band,
                md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, seed // 2),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       s AS (SELECT DISTINCT doc_id, h FROM shx),
       sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM s GROUP BY doc_id),
       inter AS (
         SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS n_inter
         FROM pairs p
         JOIN s sa ON sa.doc_id = p.doc_a
         JOIN s sb ON sb.doc_id = p.doc_b AND sb.h = sa.h
         GROUP BY p.doc_a, p.doc_b)
       SELECT i.doc_a, i.doc_b, i.n_inter,
              za.n AS size_a, zb.n AS size_b,
              round(i.n_inter * 1.0 / za.n, 6) AS containment_a,
              round(i.n_inter * 1.0 / zb.n, 6) AS containment_b,
              round(i.n_inter * 1.0 / (za.n + zb.n - i.n_inter), 6) AS jaccard
       FROM inter i
       JOIN sz za ON za.doc_id = i.doc_a
       JOIN sz zb ON zb.doc_id = i.doc_b""",
    doc="ASYMMETRIC near-dup overlap for LSH candidate pairs: exact "
    "containment C(A->B) = |A∩B|/|A| and C(B->A) over the distinct "
    "3-shingle sets, alongside Jaccard. Jaccard alone misses the "
    "quote/subset case — a short doc fully embedded in a long one "
    "scores low Jaccard but containment ~1.0, which is exactly the "
    "'document is a fragment of another' signal a dedup policy treats "
    "differently from a mutual near-copy. Candidates come from the "
    "SAME MinHash banding as the dedup family (no new all-pairs "
    "shape); the exact set overlap is an equi-join of the candidate "
    "pairs onto the hash-before-shuffle distinct shingle rows — "
    "bounded by candidate count x doc shingle count, keyed "
    "throughout (operators/dedup.py shingle_hash_rows + "
    "lsh_candidate_pairs). Pairs with zero shared shingles (band-key "
    "hash collisions) drop out of the inner join identically in both "
    "engines.",
)
def q_dedup_minhash_containment(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.dedup import shingle_hash_rows

    docs = table(spark, sf, "documents")
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(lsh_band_keys(sig)).select("doc_a", "doc_b")
    # narrow (doc_id, _h) rows feeding THREE legs (sizes + both sides of
    # the intersection join). No checkpoint: the distinct's final
    # aggregate sits directly above a reusable exchange, so ReuseExchange
    # serves all three legs from one shuffle — cheaper than any
    # checkpoint here (order-balanced paired A/B at sf0.1: none
    # min 2.04/med 2.33 s vs auto 2.47/2.65 s vs eager 2.34/2.39 s).
    s = shingle_hash_rows(docs).distinct()
    sz = s.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    sb = s.withColumnRenamed("doc_id", "_db").withColumnRenamed("_h", "_hb")
    inter = (
        pairs.join(s.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sb, (F.col("doc_b") == F.col("_db")) & (F.col("_h") == F.col("_hb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    za = sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "size_a")
    zb = sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "size_b")
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "size_a",
            "size_b",
            F.round(F.col("n_inter") * 1.0 / F.col("size_a"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_inter") * 1.0 / F.col("size_b"), 6).alias(
                "containment_b"
            ),
            F.round(
                F.col("n_inter")
                * 1.0
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_cluster_size_histogram",
    """WITH g AS (
         SELECT md5(text) AS fp, count(*)::BIGINT AS n
         FROM documents GROUP BY fp)
       SELECT n AS cluster_size,
              count(*)::BIGINT AS n_clusters,
              (n * count(*))::BIGINT AS n_docs,
              ((n - 1) * count(*))::BIGINT AS dup_overhead_docs
       FROM g GROUP BY n""",
    doc="Duplicate-cluster SIZE DISTRIBUTION over exact content groups: "
    "for each cluster size, how many clusters, how many documents they "
    "hold, and the duplication overhead (docs beyond one survivor per "
    "cluster) — the observability view a dedup run reports before "
    "deleting anything (cluster-size distributions are heavy-tailed at "
    "corpus scale; the overhead column IS the token savings estimate). "
    "Complements dedup_exact_groups (which lists groups) with the "
    "corpus-level shape. Scale shape: two map-side-combinable "
    "aggregates — fingerprint rollup, then a rollup over cluster "
    "sizes whose key cardinality is O(max cluster size); no join, no "
    "window.",
)
def q_dedup_cluster_size_histogram(spark: SparkSession, sf: str):
    g = (
        table(spark, sf, "documents")
        .groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return g.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count("*"))
        .cast("long")
        .alias("dup_overhead_docs"),
    )


_WRS_K = 100  # reservoir size
_WRS_MOD = 2147483647  # 2^31 - 1 (prime): uniform-in-(0,1] denominator


@register(
    "sample_weighted_reservoir",
    f"""WITH w AS (
         SELECT o_orderkey,
                round(o_totalprice * 100)::BIGINT AS weight_cents,
                (('0x' || substr(md5('wrs:' || o_orderkey::VARCHAR), 1, 15))
                  ::BIGINT % {_WRS_MOD} + 1) * 1.0 / {_WRS_MOD + 1} AS u
         FROM orders),
       keyed AS (
         SELECT o_orderkey, weight_cents,
                ln(u) / weight_cents AS k
         FROM w)
       SELECT o_orderkey, weight_cents,
              round(k, 12) + 0.0 AS wrs_key  -- +0.0 folds IEEE -0.0 to +0.0
       FROM keyed
       ORDER BY k DESC, o_orderkey
       LIMIT {_WRS_K}""",
    doc="Weighted reservoir sampling (Efraimidis-Spirakis A-ES) made "
    "DETERMINISTIC and distributed: each row gets key ln(u)/w with u a "
    "hash-derived uniform in (0,1] (md5 of a salted id — any engine "
    "recomputes it), and the weighted-without-replacement sample of "
    "size k is exactly the top-k keys. This is the one-pass, "
    "shuffle-light way to draw a totalprice-weighted order sample at "
    "100 TB: no global sort, no sequential scan — TakeOrdered keeps a "
    "k-row heap per partition and merges k x partitions rows on the "
    "driver. Determinism makes the sample reproducible AND "
    "certifiable (the oracle draws the identical sample), the "
    "property audit pipelines need from sampling stages. Scale "
    "shape: scan-fused key computation, TakeOrderedAndProject(k=100); "
    "nothing else.",
)
def q_sample_weighted_reservoir(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    w = table(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("weight_cents"),
        (
            (
                md5_hash64(F.concat(F.lit("wrs:"), F.col("o_orderkey").cast("string")))
                % _WRS_MOD
                + 1
            )
            * 1.0
            / (_WRS_MOD + 1)
        ).alias("u"),
    )
    keyed = w.select(
        "o_orderkey",
        "weight_cents",
        (F.log(F.col("u")) / F.col("weight_cents")).alias("k"),
    )
    return (
        keyed.orderBy(F.col("k").desc(), "o_orderkey")
        .limit(_WRS_K)
        .select(
            "o_orderkey",
            "weight_cents",
            (F.round("k", 12) + 0.0).alias("wrs_key"),  # fold -0.0 to +0.0
        )
    )


_CHUNK_SENT_BUDGET = 48  # tokens per sentence-packed chunk


@register(
    "chunk_sentence_packed",
    f"""WITH d AS (
         SELECT doc_id,
                list_transform(
                  list_filter(regexp_split_to_array(text, '[.!?]+'),
                              s -> trim(s) <> ''),
                  s -> len(list_filter(regexp_split_to_array(lower(s),
                         '[^a-z0-9]+'), x -> x <> ''))::BIGINT) AS sl
         FROM documents WHERE text IS NOT NULL),
       s AS (
         SELECT doc_id, u.x.p::BIGINT AS sidx, u.x.t::BIGINT AS st
         FROM (SELECT doc_id,
                      unnest(list_transform(range(len(sl)),
                                            i -> {{'p': i, 't': sl[i + 1]}})) AS x
               FROM d WHERE len(sl) >= 1) u),
       binned AS (
         SELECT doc_id, sidx, st,
                floor((sum(st) OVER (PARTITION BY doc_id ORDER BY sidx
                       ROWS UNBOUNDED PRECEDING) - st)
                      * 1.0 / {_CHUNK_SENT_BUDGET})::BIGINT AS chunk_id
         FROM s)
       SELECT doc_id, chunk_id,
              count(*)::BIGINT AS n_sentences,
              min(sidx)::BIGINT AS first_sentence,
              max(sidx)::BIGINT AS last_sentence,
              sum(st)::BIGINT AS chunk_tokens
       FROM binned GROUP BY doc_id, chunk_id""",
    doc="Sentence-boundary-aware chunking: sentences (terminal-"
    "punctuation split, the text_sentence_stats convention) pack "
    "sequentially into ~48-token chunks via an exclusive running "
    "token sum — no sentence is ever cut mid-way, the property RAG "
    "and long-context training chunkers want that the fixed-stride "
    "token chunker (chunk_documents) cannot give. A sentence longer "
    "than the budget gets its own chunk (floor-binning never splits "
    "a unit). Scale shape: sentence token counts are computed inside "
    "the row (no text explode), one doc_id-partitioned window for "
    "the prefix sum, one (doc, chunk) rollup — integer-only "
    "arithmetic end to end.",
)
def q_chunk_sentence_packed(spark: SparkSession, sf: str):
    from pyspark.sql import Window as W

    sent_tokens = lambda s: F.size(  # noqa: E731
        F.filter(F.split(F.lower(s), "[^a-z0-9]+", -1), lambda x: x != F.lit(""))
    ).cast("long")
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.transform(
                F.filter(
                    F.split(F.col("text"), r"[.!?]+", -1),
                    lambda s: F.trim(s) != F.lit(""),
                ),
                sent_tokens,
            ).alias("sl"),
        )
        .filter(F.size("sl") >= 1)
    )
    s = d.select("doc_id", F.posexplode("sl").alias("sidx", "st")).select(
        "doc_id", F.col("sidx").cast("long").alias("sidx"), "st"
    )
    win = (
        W.partitionBy("doc_id")
        .orderBy("sidx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    binned = s.withColumn(
        "chunk_id",
        F.floor(
            (F.sum("st").over(win) - F.col("st")) * 1.0 / _CHUNK_SENT_BUDGET
        ).cast("long"),
    )
    return binned.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.min("sidx").cast("long").alias("first_sentence"),
        F.max("sidx").cast("long").alias("last_sentence"),
        F.sum("st").cast("long").alias("chunk_tokens"),
    )
