"""Corpus curation surface: deterministic splits & sampling, vocabulary
building, PII detection, and embedding near-dup discovery — the remaining
primitives a training-data pipeline needs around the dedup/quality stack.
Every query has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from annotations_ingester_spark.functions.hashing import md5_hash64_sql
from annotations_ingester_spark.functions.text import quality_score_sql, tokens, tokens_sql
from annotations_ingester_spark.functions.vectors import (
    cosine_similarity_sql,
    sign_bucket_sql,
)
from annotations_ingester_spark.plans.catalog import ckpt, events_stream, register, table

_SPLIT_HASH = md5_hash64_sql("'split:' || doc_id::VARCHAR")
_SAMPLE_HASH = md5_hash64_sql("'sample:' || doc_id::VARCHAR")


@register(
    "split_hash_assign",
    f"""SELECT doc_id,
               ({_SPLIT_HASH} % 100)::BIGINT AS split_bucket,
               CASE WHEN {_SPLIT_HASH} % 100 < 80 THEN 'train'
                    WHEN {_SPLIT_HASH} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents""",
    doc="Stable train/val/test split: bucket = portable_hash('split:'||id) "
    "mod 100 — the same row lands in the same split on every run and "
    "engine, and growing the corpus never reshuffles existing assignments "
    "(rand()/TABLESAMPLE can't promise either). A pure projection: no "
    "shuffle, stays fused with the scan at any scale.",
)
def q_hash_split(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.sampling import hash_split

    return hash_split(table(spark, sf, "documents")).select(
        "doc_id", "split_bucket", "split"
    )


@register(
    "split_stratified_sample",
    f"""SELECT doc_id, lang, source, sample_rank FROM (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY lang, source
                                    ORDER BY {_SAMPLE_HASH}, doc_id)::BIGINT AS sample_rank
          FROM documents)
        WHERE sample_rank <= 5""",
    doc="Deterministic stratified sampling: exactly 5 docs per "
    "(lang, source) stratum chosen by portable-hash order — an engine-"
    "reproducible 'random' sample. One shuffle on the strata key; the "
    "per-stratum top-n is a ranked window, so no stratum ever reaches "
    "the driver.",
)
def q_stratified_sample(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.sampling import stratified_sample

    out = stratified_sample(
        table(spark, sf, "documents"), ["lang", "source"], n_per_stratum=5
    )
    return out.select(
        "doc_id", "lang", "source", F.col("sample_rank").cast("long").alias("sample_rank")
    )


@register(
    "vocab_top_terms",
    f"""WITH t AS (
          SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents)
        SELECT token, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM t GROUP BY token HAVING count(*) >= 10
        ORDER BY tf DESC, token LIMIT 50""",
    doc="Corpus vocabulary building: term + document frequency per token "
    "with a min-count floor and a bounded top-k — the tokenizer-vocab/BPE "
    "seed step. Map-side combinable count aggregates; the only full sort "
    "is over the already-tiny filtered vocab.",
)
def q_vocab(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("tf") >= 10)
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(50)
    )


# deterministic synthetic PII so the detectors have real positives to find:
# every 7th doc gains an email, every 11th an https URL (word-soup test
# corpora contain none naturally)
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_NUM_RE = r"\d{4,}"
_URL_RE = r"https?://[^\s]+"


@register(
    "pii_detection_stats",
    f"""WITH d AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 7 = 0
                              THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                              ELSE '' END
                      || CASE WHEN doc_id % 11 = 0
                              THEN ' see https://example.org/d/' || doc_id::VARCHAR
                              ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(text, '{_EMAIL_RE}'))::BIGINT AS n_email,
               len(regexp_extract_all(text, '{_NUM_RE}'))::BIGINT AS n_longnum,
               len(regexp_extract_all(text, '{_URL_RE}'))::BIGINT AS n_url,
               (CASE WHEN len(regexp_extract_all(text, '{_EMAIL_RE}')) +
                          len(regexp_extract_all(text, '{_URL_RE}')) > 0
                     THEN 1 ELSE 0 END)::BIGINT AS has_pii
        FROM d""",
    doc="PII detection: per-doc counts of email / long-number / URL "
    "patterns via JVM-side regexp_count (no Python), the precursor to "
    "redaction (text_redaction) and filtering. Deterministic synthetic "
    "PII is injected so the detectors are certified against real "
    "positives, not an all-zero corpus.",
)
def q_pii(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" see https://example.org/d/"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", text.alias("_t"))
    n_email = F.regexp_count("_t", F.lit(_EMAIL_RE))
    n_num = F.regexp_count("_t", F.lit(_NUM_RE))
    n_url = F.regexp_count("_t", F.lit(_URL_RE))
    return d.select(
        "doc_id",
        n_email.cast("long").alias("n_email"),
        n_num.cast("long").alias("n_longnum"),
        n_url.cast("long").alias("n_url"),
        ((n_email + n_url) > 0).cast("long").alias("has_pii"),
    )


@register(
    "embedding_near_dup_pairs",
    f"""WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {sign_bucket_sql('embedding', 8)} AS bucket
          FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
               round({cosine_similarity_sql('a.v', 'b.v')}, 6) AS cos
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round({cosine_similarity_sql('a.v', 'b.v')}, 6) >= 0.3""",
    doc="Embedding-cosine near-dup pairs above a threshold, discovered "
    "within sign buckets (per-bucket self-join — the scalable all-pairs; "
    "operators/similarity.embedding_near_duplicates). Completes the "
    "near-dup family: exact (hash), MinHash-LSH, SimHash, n-gram "
    "Jaccard, embedding-cosine.",
)
def q_embedding_near_dups(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.similarity import embedding_near_duplicates

    emb = table(spark, sf, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.3, n_bits=8)


_TOKS = tokens_sql("text")


@register(
    "text_repetition_stats",
    f"""WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                       i -> t[i] || ' ' || t[i+1])) AS bg,
                 NULL AS tg
          FROM d WHERE len(t) >= 2
          UNION ALL
          SELECT doc_id, NULL,
                 unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          FROM d WHERE len(t) >= 3),
        bge AS (SELECT doc_id, bg, count(*) AS c FROM g WHERE bg IS NOT NULL
                GROUP BY doc_id, bg),
        tge AS (SELECT doc_id, tg, count(*) AS c FROM g WHERE tg IS NOT NULL
                GROUP BY doc_id, tg),
        bs AS (SELECT doc_id, sum(c)::BIGINT AS n_bg, max(c)::BIGINT AS top_bg,
                      count(*)::BIGINT AS d_bg FROM bge GROUP BY doc_id),
        ts AS (SELECT doc_id, sum(c)::BIGINT AS n_tg, count(*)::BIGINT AS d_tg
               FROM tge GROUP BY doc_id)
        SELECT bs.doc_id,
               round(top_bg / n_bg, 6) AS top_bigram_frac,
               round((n_tg - d_tg) / n_tg, 6) AS dup_trigram_frac,
               ((top_bg / n_bg <= 0.18) AND ((n_tg - d_tg) / n_tg <= 0.3)) AS passes
        FROM bs JOIN ts ON bs.doc_id = ts.doc_id""",
    doc="Gopher repetition suite, n-gram half: per-doc top-bigram fraction "
    "and duplicate-trigram fraction (1 − distinct/total) with the paper's "
    "pass thresholds — one shingle explode per n, integer count aggs, all "
    "map-side combinable. Complements text_gopher_quality_flags (token "
    "half).",
)
def q_repetition(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents").select("doc_id", tokens("text").alias("_t"))

    def grams(n: int):
        parts = " || ' ' || ".join(f"element_at(_t, i + {j})" for j in range(n))
        return (
            docs.filter(F.size("_t") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.expr(f"transform(sequence(1, size(_t) - {n - 1}), i -> {parts})")
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
        )

    bs = grams(2).groupBy("doc_id").agg(
        F.sum("c").alias("n_bg"), F.max("c").alias("top_bg")
    )
    ts = grams(3).groupBy("doc_id").agg(
        F.sum("c").alias("n_tg"), F.count("*").alias("d_tg")
    )
    top_frac = F.col("top_bg") / F.col("n_bg")
    dup_frac = (F.col("n_tg") - F.col("d_tg")) / F.col("n_tg")
    return bs.join(ts, "doc_id").select(
        "doc_id",
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_frac, 6).alias("dup_trigram_frac"),
        ((top_frac <= 0.18) & (dup_frac <= 0.3)).alias("passes"),
    )


_DS_HASH = md5_hash64_sql("'downsample:' || doc_id::VARCHAR")


@register(
    "weighted_downsample",
    f"""SELECT doc_id, lang,
               ({_DS_HASH} % 10000)::BIGINT AS keep_bucket
        FROM documents
        WHERE {_DS_HASH} % 10000 <
              CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
                        WHEN 'fr' THEN 5000 ELSE 2500 END""",
    doc="Deterministic weighted downsampling: per-language keep rates "
    "(en 100%, de/fr 50%, other 25%) decided by portable-hash threshold — "
    "the language-rebalancing step of corpus mixing, reproducible across "
    "runs/engines and stable under corpus growth (same guarantees as "
    "split_hash_assign). Pure filter+projection: no shuffle, fuses with "
    "the scan.",
)
def q_weighted_downsample(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    docs = table(spark, sf, "documents")
    bucket = F.pmod(
        md5_hash64(F.concat_ws(":", F.lit("downsample"), F.col("doc_id").cast("string"))),
        F.lit(10000),
    )
    rate = (
        F.when(F.col("lang") == "en", 10000)
        .when(F.col("lang").isin("de", "fr"), 5000)
        .otherwise(2500)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("keep_bucket"))
        .filter(F.col("keep_bucket") < rate)
    )


@register(
    "streaming_watermarked_dedup",
    """SELECT DISTINCT event_id FROM events""",
    doc="Streaming dedup with BOUNDED state run for real: the events file "
    "is read as two unioned streams (every event arrives twice), pushed "
    "through withWatermark + dropDuplicatesWithinWatermark (state for ids "
    "older than the watermark is evicted - O(window) memory at 100 TB, "
    "where an unbounded dropDuplicates would grow state forever), driven "
    "to completion with availableNow. Oracle: exact DISTINCT event_id "
    "set - every duplicate dropped, every event kept.",
)
def q_streaming_dedup(spark: SparkSession, sf: str):
    from annotations_ingester_spark.streaming.stateful import watermarked_dedup

    def one_stream():
        return events_stream(spark, sf).select(
            "event_id", F.timestamp_seconds("ts_s").alias("ts_t")
        )

    doubled = one_stream().unionByName(one_stream())
    deduped = watermarked_dedup(doubled, ["event_id"], "ts_t").select("event_id")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("streaming_dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_dedup_out")


@register(
    "streaming_stateful_totals",
    """SELECT user_id, count(*)::BIGINT AS total_events
       FROM events GROUP BY user_id""",
    doc="Custom stateful streaming operator run for real: per-user running "
    "event totals via applyInPandasWithState (state = one counter per "
    "key, O(keys) memory), driven to completion with availableNow and "
    "certified against the exact per-user counts. The multi-batch "
    "accumulation path is pinned separately in pytest "
    "(test_running_user_totals_accumulates_across_batches).",
)
def q_streaming_totals(spark: SparkSession, sf: str):
    from annotations_ingester_spark.streaming.stateful import running_user_totals

    stream = events_stream(spark, sf).select("user_id")
    totals = running_user_totals(stream).select("user_id", "total_events")
    q = (
        totals.writeStream.outputMode("append")
        .format("memory")
        .queryName("streaming_totals_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_totals_out")


@register(
    "quality_percentile_filter",
    f"""WITH s AS (
          SELECT doc_id, {quality_score_sql('text')} AS q
          FROM documents),
        t AS (SELECT quantile_cont(q, 0.25) AS thr FROM s)
        SELECT doc_id, round(q, 6) AS quality
        FROM s, t WHERE q >= thr""",
    doc="Percentile-threshold quality gate: drop the worst quartile by "
    "corpus quality score — the relative-threshold companion to the "
    "absolute Gopher gates. The exact-percentile threshold is a 1-row "
    "aggregate broadcast back over the corpus (scalar-subquery shape: "
    "one pass for the stats, one scan-fused filter pass; no shuffle of "
    "the data itself).",
)
def q_quality_percentile(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.text import quality_score

    s = table(spark, sf, "documents").select(
        "doc_id", quality_score("text").alias("q")
    )
    thr = s.agg(F.expr("percentile(q, 0.25)").alias("thr"))
    return (
        s.crossJoin(F.broadcast(thr))
        .filter(F.col("q") >= F.col("thr"))
        .select("doc_id", F.round("q", 6).alias("quality"))
    )


@register(
    "corpus_mixture_report",
    f"""WITH s AS (
          SELECT doc_id, lang,
                 len({tokens_sql('text')})::BIGINT AS n_tokens,
                 CASE WHEN {_SPLIT_HASH} % 100 < 80 THEN 'train'
                      WHEN {_SPLIT_HASH} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
        SELECT split, lang, count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS total_tokens
        FROM s GROUP BY split, lang""",
    doc="Corpus mixture report: docs + token budget per (split, language) "
    "— the planning artifact a training run starts from, composing the "
    "stable hash split with token counting. One map-side-combinable "
    "aggregate over a scan-fused projection.",
)
def q_mixture(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.sampling import hash_split

    docs = hash_split(table(spark, sf, "documents")).select(
        "split", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return docs.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


@register(
    "corpus_shuffle_order",
    f"""SELECT doc_id,
               row_number() OVER (ORDER BY {_SAMPLE_HASH}, doc_id)::BIGINT AS shuffle_pos
        FROM documents""",
    doc="Deterministic corpus shuffling: every doc gets a stable "
    "pseudo-random position — the reproducible epoch-shuffle training "
    "runs need. Computed as DISTRIBUTED total-order ranking (zipWithIndex "
    "done right in the DataFrame API): bucket on the top bits of the "
    "60-bit hash (buckets are contiguous hash ranges, so bucket order == "
    "global order), rank within each bucket in parallel windows, then add "
    "per-bucket offsets from a 256-row running-total broadcast back. No "
    "single-partition global window anywhere.",
)
def q_shuffle_order(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.hashing import md5_hash64

    rk = md5_hash64(
        F.concat_ws(":", F.lit("sample"), F.col("doc_id").cast("string"))
    )
    d = table(spark, sf, "documents").select(
        "doc_id", rk.alias("_rk")
    ).withColumn("_bucket", F.shiftright("_rk", 52))  # 256 ordered hash ranges
    w_in = Window.partitionBy("_bucket").orderBy(F.asc("_rk"), F.asc("doc_id"))
    ranked = d.withColumn("_rn", F.row_number().over(w_in))
    counts = d.groupBy("_bucket").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_bucket", "_off")
    return ranked.join(F.broadcast(offsets), "_bucket").select(
        "doc_id", (F.col("_off") + F.col("_rn")).cast("long").alias("shuffle_pos")
    )


@register(
    "corpus_token_drift",
    f"""WITH d AS (
          SELECT doc_id % 10 = 0 AS is_new, {tokens_sql('text')} AS t
          FROM documents),
        u AS (SELECT is_new, unnest(t) AS tok FROM d),
        c AS (
          SELECT tok,
                 count(*) FILTER (WHERE is_new)::BIGINT AS c_new,
                 count(*) FILTER (WHERE NOT is_new)::BIGINT AS c_corpus
          FROM u GROUP BY tok),
        tot AS (
          SELECT sum(c_new)::BIGINT AS t_new, sum(c_corpus)::BIGINT AS t_corpus
          FROM c),
        top AS (
          SELECT tok, c_new, c_corpus FROM c
          ORDER BY c_new + c_corpus DESC, tok LIMIT 50)
        SELECT tok, c_new, c_corpus,
               round(abs(c_new / t_new - c_corpus / t_corpus), 6) AS freq_drift
        FROM top, tot""",
    doc="Ingest drift monitor: token-frequency distribution of the arriving "
    "batch (doc_id%10=0, the same stand-in as incremental dedup) compared "
    "against the standing corpus — per top-50 token, absolute relative-"
    "frequency drift. The production data-quality gate next to the "
    "incremental dedup probe: a spiking drift means the new crawl slice "
    "changed character. Scale shape: one map-side-combinable token count, "
    "a TakeOrdered top-50 (never a full sort), and a 1-row totals "
    "broadcast — two shuffles regardless of corpus size.",
)
def q_corpus_token_drift(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    u = docs.select(
        (F.col("doc_id") % 10 == 0).alias("is_new"),
        F.explode(tokens("text")).alias("tok"),
    )
    c = u.groupBy("tok").agg(
        F.count(F.when(F.col("is_new"), 1)).alias("c_new"),
        F.count(F.when(~F.col("is_new"), 1)).alias("c_corpus"),
    )
    tot = c.agg(
        F.sum("c_new").alias("t_new"), F.sum("c_corpus").alias("t_corpus")
    )
    top = c.orderBy(
        (F.col("c_new") + F.col("c_corpus")).desc(), F.col("tok")
    ).limit(50)
    return top.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c_new",
        "c_corpus",
        F.round(
            F.abs(
                F.col("c_new") / F.col("t_new")
                - F.col("c_corpus") / F.col("t_corpus")
            ),
            6,
        ).alias("freq_drift"),
    )


_SHARD_ROW_HASH = md5_hash64_sql("doc_id::VARCHAR || '|' || md5(text)")


@register(
    "corpus_shard_manifest",
    f"""WITH d AS (
          SELECT doc_id, {_SAMPLE_HASH} AS rk,
                 octet_length(encode(text))::BIGINT AS n_bytes,
                 {_SHARD_ROW_HASH} AS h
          FROM documents),
        o AS (
          SELECT doc_id, n_bytes, h,
                 sum(n_bytes) OVER (ORDER BY rk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_bytes AS byte_start
          FROM d)
        SELECT (byte_start // 16384)::BIGINT AS shard_id,
               count(*)::BIGINT AS n_docs,
               sum(n_bytes)::BIGINT AS total_bytes,
               min(byte_start)::BIGINT AS first_byte,
               bit_xor(h) AS xor_checksum,
               sum(h)::DECIMAL(38,0)::VARCHAR AS sum_checksum
        FROM o GROUP BY 1""",
    doc="Packed-shard export manifest — the training-data last mile "
    "(sink-side analogue of W2 split-by-field routing, reference "
    "annotations_indexer.py:214-218, at corpus scale): docs laid out in "
    "the deterministic hash shuffle order, byte offsets prefix-summed, "
    "each doc routed to the 16 KiB-budget shard its payload starts in, "
    "then per shard (n_docs, total_bytes, first_byte) plus the "
    "order-insensitive count/XOR/decimal-sum checksum triple over "
    "content-addressed row hashes — a trainer (or a resumed export) "
    "verifies every shard without re-reading the corpus. Scale shape: "
    "the global byte offset is the 256-bucket distributed prefix sum "
    "(parallel in-bucket windows + a 256-row offset broadcast — no "
    "single-partition window over data), the manifest one map-side-"
    "combinable aggregate; the actual writer (sinks/sharding.py "
    "export_shards, byte-identical-rerun pytest) is partitionBy(shard_id) "
    "dynamic parquet, no driver loop.",
)
def q_corpus_shard_manifest(spark: SparkSession, sf: str):
    from annotations_ingester_spark.sinks.sharding import (
        shard_assignments,
        shard_manifest,
    )

    asg = shard_assignments(table(spark, sf, "documents"), shard_bytes=16_384)
    return shard_manifest(asg)


@register(
    "streaming_shard_manifest",
    f"""WITH d AS (
          SELECT doc_id, ({_SAMPLE_HASH} % 16)::BIGINT AS shard_id,
                 octet_length(encode(text))::BIGINT AS n_bytes,
                 {_SHARD_ROW_HASH} AS h
          FROM documents)
        SELECT shard_id, count(*)::BIGINT AS n_docs,
               sum(n_bytes)::BIGINT AS total_bytes,
               bit_xor(h) AS xor_checksum,
               sum(h)::DECIMAL(38,0)::VARCHAR AS sum_checksum
        FROM d GROUP BY 1""",
    doc="Streaming twin of the shard export's verification artifact, run "
    "for real: documents stream in (availableNow, several micro-batches) "
    "and foreachBatch lands each batch's per-shard partial manifest at a "
    "BATCH-ID-KEYED path (overwrite) — the canonical idempotent "
    "foreachBatch discipline: an at-least-once retry rewrites the same "
    "path instead of double-counting into a running total (a "
    "read-modify-write merge would corrupt additive counts on retry). "
    "Shard routing is the stable hash (doc_id -> one of 16 shards) "
    "rather than the batch exporter's byte-packing (a global prefix sum "
    "cannot be maintained incrementally; hash routing is the "
    "streaming-shape choice), and every manifest column is a COMMUTATIVE "
    "MONOID (count, byte sum, XOR, decimal sum) — so arbitrary "
    "micro-batch splits and arrival orders fold to the identical "
    "manifest. The final fold is O(batches x shards) rows. The oracle is "
    "the one-shot batch manifest: partial-fold == batch-aggregate is "
    "exactly the mergeability claim.",
)
def q_streaming_shard_manifest(spark: SparkSession, sf: str):
    import os
    import shutil
    import tempfile

    from annotations_ingester_spark.sinks.sharding import (
        shard_hash_projection,
        write_shard_manifest_partial,
    )

    docs = shard_hash_projection(table(spark, sf, "documents"))
    run_dir = tempfile.mkdtemp(prefix="spark_graft_shardman_")
    feed_dir = os.path.join(run_dir, "feed")
    store = os.path.join(run_dir, "store")
    docs.repartition(8).write.mode("overwrite").parquet(feed_dir)

    def land_partial(batch_df, batch_id):
        write_shard_manifest_partial(batch_df, store, batch_id)

    feed_schema = docs.schema  # just wrote it — no re-listing job needed
    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", "3")
        .parquet(feed_dir)
    )
    q = stream.writeStream.foreachBatch(land_partial).trigger(availableNow=True).start()
    q.awaitTermination()

    from annotations_ingester_spark.sinks.sharding import fold_shard_manifest_partials

    result = fold_shard_manifest_partials(spark, store).localCheckpoint(eager=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


@register(
    "privacy_k_anonymity",
    """SELECT lang, source,
              (n_chars // 100)::BIGINT AS chars_bucket,
              count(*)::BIGINT AS class_size,
              count(*) < 5 AS below_k
       FROM documents
       GROUP BY 1, 2, 3""",
    doc="k-anonymity audit over the release quasi-identifiers (lang, "
    "source, coarse length bucket): every equivalence class with its "
    "size and a below-k flag (k=5) — the privacy gate a dataset release "
    "runs next to the PII regex scan (a document alone in its "
    "quasi-identifier class is re-identifiable even with direct "
    "identifiers redacted; the fix is suppressing or coarsening those "
    "classes). One map-side-combinable aggregate fused with the scan — "
    "flat cost at any corpus size, and the class list (bounded by the "
    "QI-domain product, not the corpus) is what the suppression step "
    "consumes.",
)
def q_privacy_k_anonymity(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "documents")
        .groupBy(
            "lang",
            "source",
            F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("chars_bucket"),
        )
        .agg(F.count("*").cast("long").alias("class_size"))
        .select(
            "lang", "source", "chars_bucket", "class_size",
            (F.col("class_size") < 5).alias("below_k"),
        )
    )


@register(
    "shard_manifest_delta",
    f"""WITH v1 AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
        v2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]'
                      ELSE text END AS text
          FROM documents),
        m1 AS (
          SELECT ({_SAMPLE_HASH} % 16)::BIGINT AS shard_id,
                 count(*)::BIGINT AS n_docs,
                 sum({_SHARD_ROW_HASH})::DECIMAL(38,0)::VARCHAR AS sum_checksum
          FROM v1 GROUP BY 1),
        m2 AS (
          SELECT ({_SAMPLE_HASH} % 16)::BIGINT AS shard_id,
                 count(*)::BIGINT AS n_docs,
                 sum({_SHARD_ROW_HASH})::DECIMAL(38,0)::VARCHAR AS sum_checksum
          FROM v2 GROUP BY 1)
        SELECT coalesce(m1.shard_id, m2.shard_id) AS shard_id,
               coalesce(m1.n_docs, 0)::BIGINT AS n_docs_old,
               coalesce(m2.n_docs, 0)::BIGINT AS n_docs_new,
               (m1.sum_checksum IS DISTINCT FROM m2.sum_checksum)
                 AS needs_reexport
        FROM m1 FULL OUTER JOIN m2 ON m1.shard_id = m2.shard_id""",
    doc="Incremental re-export planner: manifests of two corpus versions "
    "(v1 drops doc_id%17=0, v2 revises doc_id%10=0 — the deterministic "
    "stand-ins the drift/incremental queries use) compared per hash shard "
    "via their content checksums — only shards whose checksum moved need "
    "re-uploading to the trainer. This is the resume story for the shard "
    "export: at 100 TB a daily refresh touches a bounded set of shards, "
    "and the delta is computed from two manifest-sized frames (16 rows "
    "here, O(corpus/shard_budget) in production — never the corpus). "
    "Scale shape: two scan-fused manifest aggregates + one tiny "
    "full-outer join.",
)
def q_shard_manifest_delta(spark: SparkSession, sf: str):
    from annotations_ingester_spark.sinks.sharding import shard_hash_projection

    def manifest(docs):
        return (
            shard_hash_projection(docs)
            .groupBy("shard_id")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum(F.col("h").cast("decimal(38,0)"))
                .cast("string")
                .alias("sum_checksum"),
            )
        )

    docs = table(spark, sf, "documents")
    m1 = manifest(docs.filter(F.col("doc_id") % 17 != 0).select("doc_id", "text"))
    m2 = manifest(
        docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    j = m1.alias("m1").join(
        m2.alias("m2"), F.col("m1.shard_id") == F.col("m2.shard_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("m1.shard_id"), F.col("m2.shard_id")).alias("shard_id"),
        F.coalesce(F.col("m1.n_docs"), F.lit(0)).cast("long").alias("n_docs_old"),
        F.coalesce(F.col("m2.n_docs"), F.lit(0)).cast("long").alias("n_docs_new"),
        (
            ~F.col("m1.sum_checksum").eqNullSafe(F.col("m2.sum_checksum"))
        ).alias("needs_reexport"),
    )


_BALANCE_HASH = md5_hash64_sql("'balance:' || vec_id::VARCHAR")


@register(
    "label_balanced_sample",
    f"""WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        m AS (SELECT min(n)::BIGINT AS m FROM c),
        r AS (
          SELECT vec_id, label,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY {_BALANCE_HASH}, vec_id) AS rn
          FROM embeddings)
        SELECT vec_id, label::BIGINT AS label
        FROM r, m WHERE rn <= m.m""",
    doc="Label-balanced downsampling: every class kept at exactly the "
    "minority-class count, members chosen by the stable per-row hash "
    "order — the classification-dataset balancing step, deterministic "
    "across runs/engines and stable under corpus growth for the rows "
    "that remain (same philosophy as split_hash_assign). Scale shape: "
    "one tiny class-count aggregate broadcast back, one label-partitioned "
    "rank window; no sampling randomness to reconcile between engines.",
)
def q_label_balanced_sample(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.hashing import md5_hash64

    emb = table(spark, sf, "embeddings")
    m = emb.groupBy("label").agg(F.count("*").alias("n")).agg(
        F.min("n").cast("long").alias("m")
    )
    hk = md5_hash64(F.concat_ws(":", F.lit("balance"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("label").orderBy(hk.asc(), F.col("vec_id").asc())
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("vec_id", F.col("label").cast("long").alias("label"))
    )


_MIX_HASH = md5_hash64_sql("'mixsample:' || doc_id::VARCHAR")


@register(
    "mixture_temperature_sample",
    f"""WITH c AS (SELECT lang, count(*)::BIGINT AS n_d
          FROM documents GROUP BY lang),
        mn AS (SELECT min(n_d)::BIGINT AS n_min FROM c),
        q AS (
          SELECT lang, n_d,
                 floor(sqrt((n_d * mn.n_min)::DOUBLE))::BIGINT AS quota
          FROM c, mn),
        r AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY {_MIX_HASH}, doc_id) AS rn
          FROM documents)
        SELECT r.doc_id, r.lang, r.rn::BIGINT AS domain_rank, q.quota
        FROM r JOIN q ON r.lang = q.lang
        WHERE r.rn <= q.quota""",
    doc="Temperature-based mixture resampling (the Pile/Gopher domain "
    "reweighting step, domain = language here — the skewed axis of this "
    "corpus): per-domain keep quotas m_d = n_d^a * n_min^(1-a) "
    "with the temperature PINNED at a = 1/2 — the resampled mixture is "
    "proportional to n_d^a (sub-linear, flattens dominant domains) and "
    "the normalization constant is chosen so the smallest domain is kept "
    "whole (keep rate (n_min/n_d)^(1-a) <= 1, no cross-domain float sum "
    "to normalize). a = 1/2 is a correctness choice, not just a config "
    "default: the quota is floor(sqrt(n_d * n_min)) over integers, and "
    "IEEE-754 requires sqrt to be correctly rounded — so both engines "
    "compute bit-identical quotas, where an arbitrary pow(p, 0.7) "
    "tiebreak could drift a cutoff by one ulp (products stay < 2^53 at "
    "any tested sf; a 100 TB deployment computes quotas in DECIMAL). "
    "Members are chosen by the stable per-row hash rank within each "
    "domain (same determinism contract as weighted_downsample / "
    "label_balanced_sample), computed in BOUNDED windows: rank within "
    "(source, 256-hash-bucket) partitions in parallel, then per-bucket "
    "offsets (a tiny per-source running sum) broadcast back — the "
    "corpus_shuffle_order prefix-sum pattern per domain, so no window "
    "partition ever holds a whole domain at 100 TB. Tiny aggregates "
    "(domain counts, quotas) broadcast onto the scan.",
)
def q_mixture_temperature_sample(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.hashing import md5_hash64

    rk = md5_hash64(
        F.concat_ws(":", F.lit("mixsample"), F.col("doc_id").cast("string"))
    )
    # One corpus scan total: the narrow (doc_id, lang, _rk, _bucket) frame
    # is materialized once and feeds the rank window, the bucket counts,
    # AND (via a rollup of the bucket counts) the domain totals/quotas —
    # the consumed-N-times class the scan-multiplicity audit pins.
    d = (
        table(spark, sf, "documents")
        .select("doc_id", "lang")
        .withColumn("_rk", rk)
        .withColumn("_bucket", F.shiftright("_rk", 52))  # 256 hash ranges
        .transform(ckpt)
    )
    bcounts = d.groupBy("lang", "_bucket").agg(F.count("*").alias("_n"))
    counts = bcounts.groupBy("lang").agg(F.sum("_n").cast("long").alias("n_d"))
    n_min = counts.agg(F.min("n_d").cast("long").alias("n_min"))
    quotas = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        F.floor(F.sqrt((F.col("n_d") * F.col("n_min")).cast("double")))
        .cast("long")
        .alias("quota"),
    )
    w_in = Window.partitionBy("lang", "_bucket").orderBy(
        F.asc("_rk"), F.asc("doc_id")
    )
    ranked = d.withColumn("_rn", F.row_number().over(w_in))
    w_off = Window.partitionBy("lang").orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bcounts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("lang", "_bucket", "_off")
    return (
        ranked.join(F.broadcast(offsets), ["lang", "_bucket"])
        .withColumn("domain_rank", (F.col("_off") + F.col("_rn")).cast("long"))
        .join(F.broadcast(quotas), "lang")
        .filter(F.col("domain_rank") <= F.col("quota"))
        .select("doc_id", "lang", "domain_rank", "quota")
    )


@register(
    "corpus_datasheet_report",
    f"""WITH d AS (
          SELECT doc_id, lang, source, n_chars,
                 len({tokens_sql('text')})::BIGINT AS n_tokens,
                 md5(text) AS fp
          FROM documents WHERE text IS NOT NULL)
        SELECT count(*)::BIGINT AS n_docs,
               count(DISTINCT lang)::BIGINT AS n_langs,
               count(DISTINCT source)::BIGINT AS n_sources,
               sum(n_tokens)::BIGINT AS total_tokens,
               sum(n_chars)::BIGINT AS total_chars,
               count(DISTINCT fp)::BIGINT AS n_unique_texts,
               round((count(*) - count(DISTINCT fp)) * 1.0 / count(*), 6)
                 AS exact_dup_rate,
               round(sum(n_tokens) * 1.0 / count(*), 4) AS mean_tokens_per_doc
        FROM d""",
    doc="Dataset datasheet summary (the 'Datasheets for Datasets' "
    "headline block): corpus size in docs/tokens/chars, language and "
    "source diversity, exact-duplicate rate (content-hash distinct), "
    "and mean document length — the one-row report card every release "
    "ships next to the data. One scan-fused aggregate; the distinct "
    "counts are two-phase partial distincts at scale (the md5 "
    "fingerprint keyspace shuffles 16-byte keys, never text).",
)
def q_corpus_datasheet(spark: SparkSession, sf: str):
    d = table(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "lang",
        "source",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    return d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("fp").cast("long").alias("n_unique_texts"),
        F.round(
            (F.count("*") - F.count_distinct("fp")) * 1.0 / F.count("*"), 6
        ).alias("exact_dup_rate"),
        F.round(F.sum("n_tokens") * 1.0 / F.count("*"), 4).alias(
            "mean_tokens_per_doc"
        ),
    )


# ---- Round-7 curation additions ----------------------------------------------


@register(
    "corpus_ngram_novelty",
    None,  # oracle assembled below (shares the word-shingle SQL helper)
    doc="First-occurrence n-gram novelty score — the anti-memorization "
    "curation signal (RefinedWeb/Gopher lineage): for each document, the "
    "fraction of its distinct 3-gram shingles whose FIRST corpus "
    "occurrence (min doc_id) is this document. Boilerplate-heavy docs "
    "score near 0 (their shingles appeared earlier); fresh content "
    "scores near 1 — the per-doc companion to the corpus-level "
    "duplicated-line strip-list. Scale shape: one shingle explode -> "
    "map-side-combinable min(doc_id) per shingle -> equi-join back on "
    "the shingle key (zipfian -> AQE skew handling) -> per-doc "
    "aggregate; state ∝ distinct shingles, never documents^2. Exact "
    "integer counts; one rounded division per row.",
)
def q_corpus_ngram_novelty(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.text import word_shingles

    sh = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", 3))).alias("g"),
        )
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(first, "g")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") * 1.0 / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
    )


def _novelty_oracle() -> str:
    from annotations_ingester_spark.functions.text import word_shingles_sql

    gs = word_shingles_sql("text", 3)
    return f"""WITH raw AS (SELECT doc_id, unnest({gs}) AS g FROM documents),
       sh AS (SELECT DISTINCT doc_id, g FROM raw),
       f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
       SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
              sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT
                AS n_novel,
              round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                    * 1.0 / count(*), 6) AS novelty
       FROM sh JOIN f USING (g) GROUP BY sh.doc_id"""


from annotations_ingester_spark.plans.catalog import REGISTRY as _REG7  # noqa: E402

_REG7["corpus_ngram_novelty"].oracle = _novelty_oracle()

#: per-source document cap (RefinedWeb-style domain balancing) — pinned
#: job parameter, NOT corpus-proportional
_DOMAIN_CAP = 120

_CAP_HASH = md5_hash64_sql("'cap:' || doc_id::VARCHAR")


@register(
    "curation_domain_caps",
    f"""WITH r AS (
         SELECT source, doc_id, {_CAP_HASH} AS h,
                row_number() OVER (PARTITION BY source
                                   ORDER BY {_CAP_HASH}, doc_id) AS rn
         FROM documents)
       SELECT source, count(*)::BIGINT AS n_docs,
              sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)::BIGINT
                AS n_kept,
              (count(*) - sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END))
                ::BIGINT AS n_dropped,
              bit_xor(CASE WHEN rn <= {_DOMAIN_CAP} THEN h END)::BIGINT
                AS kept_xor
       FROM r GROUP BY source""",
    doc="Per-domain document cap (the RefinedWeb/CCNet domain-balancing "
    "step: no single source may contribute more than CAP docs): docs "
    "rank within their source by the stable salted hash (the same "
    "no-RNG determinism contract as split_hash_assign — rerunning the "
    "cap on a grown corpus keeps earlier survivors while hash order "
    "admits new ones), rank <= 120 survives. Emits the per-source "
    "attrition report plus an order-insensitive XOR checksum of the "
    "kept set, so a downstream consumer can verify the exact survivor "
    "population without re-ranking. Scale shape: one source-partitioned "
    "rank window + one map-side-combinable aggregate; skewed sources "
    "are the window's partition key — AQE handles the imbalance, and "
    "the cap bounds every downstream consumer.",
)
def q_curation_domain_caps(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.hashing import md5_hash64

    h = md5_hash64(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    r = (
        table(spark, sf, "documents")
        .select("source", "doc_id", h.alias("h"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("h", "doc_id")
            ),
        )
    )
    kept = F.when(F.col("rn") <= _DOMAIN_CAP, 1).otherwise(0)
    return r.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        (F.count("*") - F.sum(kept)).cast("long").alias("n_dropped"),
        F.expr(f"bit_xor(CASE WHEN rn <= {_DOMAIN_CAP} THEN h END)")
        .cast("long")
        .alias("kept_xor"),
    )


@register(
    "text_readability_fk",
    f"""WITH d AS (
         SELECT doc_id,
                greatest(len(list_filter(regexp_split_to_array(text,
                  '[.!?]+'), s -> trim(s) <> '')), 1)::BIGINT AS n_sentences,
                len({tokens_sql("text")})::BIGINT AS n_words,
                greatest(len(regexp_extract_all(lower(text),
                  '[aeiouy]+')), 1)::BIGINT AS n_syllables
         FROM documents)
       SELECT doc_id, n_sentences, n_words, n_syllables,
              round(0.39 * (n_words * 1.0 / n_sentences)
                    + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 4)
                AS fk_grade,
              round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                    - 84.6 * (n_syllables * 1.0 / n_words), 4)
                AS flesch_ease
       FROM d WHERE n_words >= 1""",
    doc="Flesch-Kincaid readability scoring — the classic text-difficulty "
    "curation signal (alongside the Gopher flags and perplexity: filter "
    "or stratify a corpus by reading level): per doc, sentence count "
    "(split on terminal punctuation, empty segments dropped, floor 1), "
    "word count (the shared tokenizer), and a vowel-run syllable "
    "heuristic (one regexp over the lowered text — a vowel run cannot "
    "cross a word boundary, so the whole-text count equals the per-word "
    "sum without an explode), then the FK grade and Flesch "
    "reading-ease formulas. Exact integer counts; the two formula "
    "trees are shared (IEEE-identical), one rounding each. Scale "
    "shape: a single narrow scan-fused projection — no shuffle at all.",
)
def q_text_readability(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.text import token_count

    d = table(spark, sf, "documents").select(
        "doc_id",
        F.greatest(
            F.size(
                F.filter(
                    F.split(F.col("text"), r"[.!?]+", -1),
                    lambda s: F.trim(s) != F.lit(""),
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("n_sentences"),
        token_count("text").alias("n_words"),
        F.greatest(
            F.expr("regexp_count(lower(text), '[aeiouy]+')"), F.lit(1)
        )
        .cast("long")
        .alias("n_syllables"),
    )
    wps = F.col("n_words") * 1.0 / F.col("n_sentences")
    spw = F.col("n_syllables") * 1.0 / F.col("n_words")
    return d.filter(F.col("n_words") >= 1).select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
    )


_EPOCH_BUDGET_TOKENS = 1_000_000  # pinned planning budget


@register(
    "curation_epoch_plan",
    f"""WITH c AS (
         SELECT source, sum(len({_TOKS}))::BIGINT AS n_tokens
         FROM documents GROUP BY source),
       t AS (SELECT sum(n_tokens)::BIGINT AS total,
                    sum(round(sqrt(CAST(n_tokens AS DOUBLE)), 9)
                        ::DECIMAL(25,9)) AS wsum
             FROM c)
       SELECT c.source, c.n_tokens,
              round(CAST(c.n_tokens AS DOUBLE) / t.total, 6) AS actual_share,
              round(round(sqrt(CAST(c.n_tokens AS DOUBLE)), 9)
                    / CAST(t.wsum AS DOUBLE), 6) AS target_share,
              round((round(sqrt(CAST(c.n_tokens AS DOUBLE)), 9)
                     / CAST(t.wsum AS DOUBLE))
                    / (CAST(c.n_tokens AS DOUBLE) / t.total), 4) AS epochs,
              round({_EPOCH_BUDGET_TOKENS}
                    * (round(sqrt(CAST(c.n_tokens AS DOUBLE)), 9)
                       / CAST(t.wsum AS DOUBLE)))::BIGINT AS planned_tokens
       FROM c, t ORDER BY c.source""",
    doc="Domain mixture EPOCH plan (the Pile/Gopher recipe's output "
    "artifact): per source, the sqrt-temperature target share "
    "(alpha = 0.5, the same temperature as mixture_temperature_sample) "
    "over real token counts, the repeat factor epochs = target/actual "
    "(> 1 means the domain is seen more than once per pass; the "
    "up-sampling a trainer actually schedules), and the planned token "
    "count at the pinned planning budget. Per-domain sqrt weights "
    "round to 9 dp and accumulate as DECIMAL(25,9) (order-exact "
    "normalizer). Scale shape: one scan-fused source-domain rollup + a "
    "1-row totals broadcast; domain-bounded output.",
)
def q_curation_epoch_plan(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions import text as _tx

    c = (
        table(spark, sf, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(_tx.tokens("text"))).cast("long").alias("n_tokens"))
    )
    w = F.round(F.sqrt(F.col("n_tokens").cast("double")), 9)
    t = c.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.sum(w.cast("decimal(25,9)")).alias("wsum"),
    )
    j = c.crossJoin(F.broadcast(t))
    tgt = w / F.col("wsum").cast("double")
    act = F.col("n_tokens").cast("double") / F.col("total")
    return j.select(
        "source",
        "n_tokens",
        F.round(act, 6).alias("actual_share"),
        F.round(tgt, 6).alias("target_share"),
        F.round(tgt / act, 4).alias("epochs"),
        F.round(F.lit(_EPOCH_BUDGET_TOKENS) * tgt).cast("long").alias(
            "planned_tokens"
        ),
    ).orderBy("source")


@register(
    "privacy_redaction_cert",
    f"""WITH d AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 7 = 0
                              THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                              ELSE '' END AS text
          FROM documents WHERE text IS NOT NULL),
        pre AS (
          SELECT doc_id, text,
                 len(regexp_extract_all(text, '{_EMAIL_RE}'))::BIGINT
                   AS email_before,
                 len(regexp_extract_all(text, '{_NUM_RE}'))::BIGINT
                   AS num_before
          FROM d),
        red AS (
          SELECT doc_id, email_before, num_before,
                 regexp_replace(regexp_replace(text,
                     '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '[0-9]{{4,}}', '<NUM>', 'g') AS redacted
          FROM pre)
        SELECT count(*)::BIGINT AS n_docs,
               sum(email_before)::BIGINT AS emails_before,
               sum(num_before)::BIGINT AS longnums_before,
               sum(len(regexp_extract_all(redacted, '{_EMAIL_RE}')))::BIGINT
                 AS emails_after,
               sum(len(regexp_extract_all(redacted, '{_NUM_RE}')))::BIGINT
                 AS longnums_after,
               sum(len(regexp_extract_all(redacted, '{_EMAIL_RE}')))
                 + sum(len(regexp_extract_all(redacted, '{_NUM_RE}'))) = 0
                 AS all_clear
        FROM red""",
    doc="Redaction effectiveness CERTIFIED end-to-end: PII is seeded "
    "deterministically (the pii_detection_stats emails), the production "
    "scrubber (redact_text — email + 4-digit-run masking) runs, and the "
    "SAME detectors re-run on the redacted output — emails_after and "
    "longnums_after must be zero, making the scrubber's coverage an "
    "asserted property rather than a code-review claim (the gate a "
    "privacy office actually wants before a corpus ships). One "
    "scan-fused projection chain (seed -> detect -> redact -> "
    "re-detect), no shuffle beyond the 1-row reduce.",
)
def q_privacy_redaction_cert(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.chunking import redact_text

    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    cnt = lambda c, pat: F.size(  # noqa: E731
        F.expr(f"regexp_extract_all({c}, '{pat}', 0)")
    ).cast("long")
    email_re = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}"
    num_re = "[0-9]{4,}"
    red = d.select(
        cnt("text", email_re).alias("email_before"),
        cnt("text", num_re).alias("num_before"),
        redact_text("text").alias("redacted"),
    )
    agg = red.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("email_before").cast("long").alias("emails_before"),
        F.sum("num_before").cast("long").alias("longnums_before"),
        F.sum(cnt("redacted", email_re)).cast("long").alias("emails_after"),
        F.sum(cnt("redacted", num_re)).cast("long").alias("longnums_after"),
    )
    return agg.select(
        "n_docs",
        "emails_before",
        "longnums_before",
        "emails_after",
        "longnums_after",
        ((F.col("emails_after") + F.col("longnums_after")) == 0).alias("all_clear"),
    )


# --- differentially-private noisy-count release certification (r9) ---------

_DP_EPS = 1.0  # epsilon; count queries have sensitivity 1, so b = 1/eps
_DP_B = 1.0 / _DP_EPS
_DP_DENOM = float(1 << 60)  # md5_hash64 is 60-bit nonnegative
_DP_HASH = md5_hash64_sql("'dp:' || n_name")


@register(
    "privacy_dp_noisy_counts_cert",
    f"""WITH c AS (
         SELECT n.n_name, count(*)::BIGINT AS exact_count
         FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
         GROUP BY n.n_name),
       u AS (
         SELECT n_name, exact_count,
                ({_DP_HASH} + 0.5) / {_DP_DENOM!r} AS uv
         FROM c),
       z AS (
         SELECT n_name, exact_count,
                CASE WHEN uv < 0.5 THEN {_DP_B!r} * ln(2.0 * uv)
                     ELSE -{_DP_B!r} * ln(2.0 * (1.0 - uv)) END AS noise
         FROM u)
       SELECT n_name, exact_count,
              round(noise, 6) AS noise,
              round(exact_count + noise, 6) AS noisy_count,
              abs(noise) <= {_DP_B!r} * ln(100.0) AS within_99pct
       FROM z""",
    doc="Differentially-private noisy-count release certification: "
    "per-nation customer counts released with Laplace(b = 1/epsilon, "
    "epsilon = 1) noise via inverse-CDF sampling (u < 0.5 -> b ln 2u, "
    "else -b ln 2(1-u)); per released row the exact count, the noise "
    "draw, the noisy release, and the 99%-envelope flag "
    "(P(|Lap(b)| > b ln(1/alpha)) = alpha — reported, not assumed). "
    "The uniform comes from the repo's seeded 60-bit md5 (u = "
    "(h+0.5)/2^60), which is what makes the release ORACLE-CHECKABLE: "
    "both engines draw the identical noise, so the cert pins the whole "
    "sensitivity-1/inverse-CDF release pipeline bit-for-bit. That "
    "seeding is explicitly NOT cryptographic privacy — a production "
    "release swaps the hash-uniform for a sealed RNG and keeps every "
    "other expression unchanged; what this certifies is the plumbing "
    "a DP release runs through, the same way media decode stubs "
    "certify the multimodal plumbing. Scale shape: one broadcast dim "
    "join + a 25-group map-side-combinable count; noise is a "
    "scan-fused scalar projection over the GROUP table (one hash per "
    "released aggregate, never per row).",
)
def q_privacy_dp_noisy_counts(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    c = (
        table(spark, sf, "customer")
        .join(
            F.broadcast(
                table(spark, sf, "nation").select("n_nationkey", "n_name")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count("*").cast("long").alias("exact_count"))
    )
    u = (
        md5_hash64(F.concat(F.lit("dp:"), F.col("n_name"))) + 0.5
    ) / F.lit(_DP_DENOM)
    noise = F.when(u < 0.5, _DP_B * F.log(2.0 * u)).otherwise(
        -_DP_B * F.log(2.0 * (1.0 - u))
    )
    return c.select(
        "n_name",
        "exact_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("exact_count") + noise, 6).alias("noisy_count"),
        (F.abs(noise) <= _DP_B * float(__import__("math").log(100.0))).alias(
            "within_99pct"
        ),
    )


# --- differentially-private quantile release (r9, exponential mechanism) ---

_DPQ_EPS = 1.0
_DPQ_HASH = md5_hash64_sql("'dpq:' || bkt::VARCHAR")


@register(
    "privacy_dp_quantile_release",
    f"""WITH c AS (
         SELECT least(round(o_totalprice * 100)::BIGINT // 5000000, 9)
                  ::BIGINT AS bkt
         FROM orders),
       counts AS (SELECT bkt, count(*)::BIGINT AS cnt FROM c GROUP BY bkt),
       spine AS (SELECT unnest(range(10))::BIGINT AS bkt),
       dense AS (SELECT s.bkt, coalesce(co.cnt, 0)::BIGINT AS cnt
                 FROM spine s LEFT JOIN counts co USING (bkt)),
       cum AS (SELECT bkt, cnt,
                      sum(cnt) OVER (ORDER BY bkt
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cw
               FROM dense),
       n AS (SELECT sum(cnt)::BIGINT AS n FROM dense),
       scored AS (
         SELECT c.bkt,
                abs(2 * c.cw - t.n)::BIGINT AS rank_err,
                -{_DPQ_EPS!r} * abs(2 * c.cw - t.n) / 4.0
                  - ln(-ln(({_DPQ_HASH} + 0.5) / {float(1 << 60)!r})) AS key,
                CASE WHEN 2 * c.cw >= t.n THEN c.bkt END AS med_cand
         FROM cum c, n t)
       SELECT t.n,
              arg_max(s.bkt, s.key)::BIGINT AS released_bucket,
              min(s.med_cand)::BIGINT AS true_median_bucket,
              arg_max(s.rank_err, s.key)::BIGINT AS rank_error,
              {_DPQ_EPS!r} AS epsilon
       FROM scored s, n t GROUP BY t.n""",
    doc="Differentially-private MEDIAN release via the exponential "
    "mechanism — the quantile member of the DP family "
    "(privacy_dp_noisy_counts_cert covers counts; quantiles need "
    "selection, not additive noise): candidate outputs are the 10 "
    "PINNED 50k-cent value buckets (the stats_psi_drift spine — "
    "bucket edges are job constants, so the candidate set is "
    "data-independent as the mechanism requires), utility is the "
    "doubled rank distance u(b) = -|2 cum(b) - n| (sensitivity 2 in "
    "doubled units: one record moves one cumulative count), and "
    "selection Pr(b) proportional to exp(eps u / (2 du)) runs via the "
    "Gumbel-max trick — argmax of eps u/4 + Gumbel, the Gumbel drawn "
    "from the repo's seeded 60-bit md5 uniform (one hash per "
    "CANDIDATE, never per row). Seeded hashing makes the release "
    "oracle-checkable, same caveat as the counts cert: a production "
    "release swaps in a sealed RNG and keeps every expression. "
    "Reports the released bucket next to the true median bucket and "
    "the released bucket's rank error — the utility audit a DP "
    "deployment publishes. Scale shape: one scan-fused 10-bucket "
    "count, a 10-row cumulative window (structural), 1-row output.",
)
def q_privacy_dp_quantile_release(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.hashing import md5_hash64

    c = table(spark, sf, "orders").select(
        F.least(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 5000000"),
            F.lit(9),
        )
        .cast("long")
        .alias("bkt")
    )
    counts = c.groupBy("bkt").agg(F.count("*").cast("long").alias("cnt"))
    spine = spark.range(10).select(F.col("id").cast("long").alias("bkt"))
    dense = spine.join(F.broadcast(counts), "bkt", "left").select(
        "bkt", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt")
    )
    w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = dense.select(
        "bkt", "cnt", F.sum("cnt").over(w).cast("long").alias("cw")
    ).transform(ckpt)  # 10 rows; feeds totals + scoring
    n = cum.agg(F.sum("cnt").cast("long").alias("n"))
    u = (
        md5_hash64(F.concat(F.lit("dpq:"), F.col("bkt").cast("string"))) + 0.5
    ) / F.lit(float(1 << 60))
    rank_err = F.abs(2 * F.col("cw") - F.col("n")).cast("long")
    key = -_DPQ_EPS * F.abs(2 * F.col("cw") - F.col("n")) / 4.0 - F.log(
        -F.log(u)
    )
    scored = cum.crossJoin(F.broadcast(n)).select(
        "n",
        "bkt",
        rank_err.alias("rank_err"),
        key.alias("key"),
        F.when(2 * F.col("cw") >= F.col("n"), F.col("bkt")).alias("med_cand"),
    )
    return scored.groupBy("n").agg(
        F.expr("max_by(bkt, key)").cast("long").alias("released_bucket"),
        F.min("med_cand").cast("long").alias("true_median_bucket"),
        F.expr("max_by(rank_err, key)").cast("long").alias("rank_error"),
        F.lit(_DPQ_EPS).alias("epsilon"),
    )


# --- round-10: token-budget waterfilling across sources ----------------------

_WF_BUDGET_FRAC_PCT = 50  # global budget = 50% of total corpus tokens


@register(
    "curation_mixture_waterfill",
    f"""WITH src AS (
         SELECT source, sum(len({tokens_sql('text')}))::BIGINT AS tokens
         FROM documents GROUP BY source),
       tot AS (SELECT count(*)::BIGINT AS n_src, sum(tokens)::BIGINT AS t,
                      (sum(tokens) * {_WF_BUDGET_FRAC_PCT} // 100)::BIGINT AS b
               FROM src),
       o AS (SELECT source, tokens,
                    row_number() OVER (ORDER BY tokens, source) AS i,
                    coalesce(sum(tokens) OVER (ORDER BY tokens, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS pfx
             FROM src),
       c AS (SELECT o.*, tot.n_src, tot.b,
                    CASE WHEN o.tokens * (tot.n_src - o.i + 1)
                              <= tot.b - o.pfx THEN 1 ELSE 0 END AS ok
             FROM o, tot),
       sat AS (SELECT c.*,
                      min(ok) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
                        AS saturated
               FROM c),
       lvl AS (SELECT coalesce(sum(CASE WHEN saturated = 1 THEN tokens END), 0)
                        ::BIGINT AS pfx_sat,
                      coalesce(sum(saturated), 0)::BIGINT AS n_sat
               FROM sat),
       theta AS (SELECT CASE WHEN t.n_src = l.n_sat THEN NULL
                             ELSE (t.b - l.pfx_sat) // (t.n_src - l.n_sat)
                        END::BIGINT AS th
                 FROM lvl l, tot t)
       SELECT s.source, s.tokens,
              CASE WHEN s.saturated = 1 THEN s.tokens
                   ELSE least(s.tokens, theta.th) END::BIGINT AS alloc_tokens,
              s.saturated = 1 AS saturated,
              round(CAST(CASE WHEN s.saturated = 1 THEN s.tokens
                              ELSE least(s.tokens, theta.th) END AS DOUBLE)
                    / s.tokens, 6) AS fill_frac
       FROM sat s, theta""",
    doc="Token-budget waterfilling across sources — the mixture OPTIMIZER "
    "next to corpus_mixture_report's inventory: given a global budget "
    f"({_WF_BUDGET_FRAC_PCT}% of corpus tokens) and the per-source "
    "supply, allocate as uniformly as possible without exceeding any "
    "source's supply (small sources keep everything — 'saturated'; "
    "large sources are capped at the common waterline theta). The "
    "closed form sorts sources by supply ascending and finds the "
    "saturation breakpoint via the running-AND of the level test "
    "c_i*(S-i+1) <= B - prefix_(i-1); theta = (B - prefix_sat) DIV "
    "(S - n_sat) in EXACT integer arithmetic (the sub-theta remainder "
    "is deliberately unallocated — deterministic, no fractional "
    "tokens). This is the anti-over-sampling allocation every "
    "multi-source training mix starts from (uniform target; plug in "
    "weights by scaling supplies). Scale shape: one "
    "map-side-combinable source rollup, then windows over the "
    "SOURCE-DOMAIN table (~20 rows at any sf), 1-row scalars.",
)
def q_curation_waterfill(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    src = (
        table(spark, sf, "documents")
        .select("source", F.size(tokens("text")).cast("long").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("tokens"))
        .transform(ckpt)  # source-domain table; feeds 3 branches
    )
    tot = src.agg(
        F.count("*").cast("long").alias("n_src"),
        F.sum("tokens").cast("long").alias("t"),
        (F.sum("tokens") * _WF_BUDGET_FRAC_PCT / 100)
        .cast("long")
        .alias("b"),
    )
    w_ord = Window.orderBy("tokens", "source")
    o = src.select(
        "source",
        "tokens",
        F.row_number().over(w_ord).alias("i"),
        F.coalesce(
            F.sum("tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("pfx"),
    )
    c = o.crossJoin(F.broadcast(tot)).select(
        "*",
        F.when(
            F.col("tokens") * (F.col("n_src") - F.col("i") + 1)
            <= F.col("b") - F.col("pfx"),
            1,
        )
        .otherwise(0)
        .alias("ok"),
    )
    sat = c.select(
        "*",
        F.min("ok")
        .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
        .alias("saturated"),
    ).transform(ckpt)  # feeds the level aggregate + final select
    lvl = sat.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated") == 1, F.col("tokens"))), F.lit(0)
        )
        .cast("long")
        .alias("pfx_sat"),
        F.coalesce(F.sum("saturated"), F.lit(0)).cast("long").alias("n_sat"),
    )
    theta = lvl.crossJoin(F.broadcast(tot.select("n_src", "b"))).select(
        F.when(F.col("n_src") == F.col("n_sat"), F.lit(None))
        .otherwise(
            F.floor((F.col("b") - F.col("pfx_sat")) / (F.col("n_src") - F.col("n_sat")))
        )
        .cast("long")
        .alias("th")
    )
    alloc = F.when(F.col("saturated") == 1, F.col("tokens")).otherwise(
        F.least(F.col("tokens"), F.col("th"))
    )
    return sat.crossJoin(F.broadcast(theta)).select(
        "source",
        "tokens",
        alloc.cast("long").alias("alloc_tokens"),
        (F.col("saturated") == 1).alias("saturated"),
        F.round(alloc.cast("double") / F.col("tokens"), 6).alias("fill_frac"),
    )


# --- round-11: leakage-safe group-holdout split --------------------------------

_GSPLIT_HASH = md5_hash64_sql("'gsplit:' || gk")
_NSPLIT_HASH = md5_hash64_sql("'nsplit:' || doc_id::VARCHAR")


@register(
    "split_group_holdout",
    f"""WITH d AS (
         SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(
                  {tokens_sql("text")})), ' ')) AS gk
         FROM documents
         WHERE text IS NOT NULL),
       lab AS (
         SELECT doc_id, gk,
                CASE WHEN ({_GSPLIT_HASH} % 100) < 80 THEN 'train'
                     WHEN ({_GSPLIT_HASH} % 100) < 90 THEN 'val'
                     ELSE 'test' END AS g_split,
                CASE WHEN ({_NSPLIT_HASH} % 100) < 80 THEN 'train'
                     WHEN ({_NSPLIT_HASH} % 100) < 90 THEN 'val'
                     ELSE 'test' END AS n_split
         FROM d),
       grp AS (SELECT gk, g_split, count(*)::BIGINT AS n
               FROM lab GROUP BY 1, 2),
       nk AS (SELECT gk, n_split, count(*)::BIGINT AS k
              FROM lab GROUP BY 1, 2),
       nk2 AS (SELECT gk, sum(k * k)::BIGINT AS sk2_naive FROM nk GROUP BY gk),
       gk2 AS (SELECT gk, sum(n * n)::BIGINT AS sk2_grouped
               FROM (SELECT gk, g_split, count(*)::BIGINT AS n
                     FROM lab GROUP BY 1, 2) GROUP BY gk),
       per_g AS (
         SELECT g.gk, g.g_split, g.n,
                (g.n * g.n - n2.sk2_naive) // 2 AS leak_naive,
                (g.n * g.n - g2.sk2_grouped) // 2 AS leak_grouped
         FROM grp g JOIN nk2 n2 USING (gk) JOIN gk2 g2 USING (gk)),
       tot AS (SELECT sum(leak_naive)::BIGINT AS leaky_pairs_naive,
                      sum(leak_grouped)::BIGINT AS leaky_pairs_grouped
               FROM per_g)
       SELECT g_split AS split,
              sum(n)::BIGINT AS n_docs,
              count(*)::BIGINT AS n_clusters,
              sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_dup_docs,
              max(t.leaky_pairs_grouped)::BIGINT AS leaky_pairs_grouped,
              max(t.leaky_pairs_naive)::BIGINT AS leaky_pairs_naive
       FROM per_g CROSS JOIN tot t
       GROUP BY g_split""",
    doc="Leakage-safe group-holdout split certification — the "
    "train/val/test assignment every post-dedup pipeline needs: "
    "duplicate CLUSTERS (dedup_bag_fingerprint's order-insensitive "
    "bag-of-words content key, which unlike raw md5(text) also ties "
    "word-reorder near-dups together) are "
    "assigned to splits atomically via a seeded hash of the GROUP "
    "key, so no verbatim duplicate can sit in train and test at once "
    "(the contamination that inflates eval scores — see "
    "eval_split_leakage_audit for the post-hoc detector; this is the "
    "constructive fix). Output: per-split doc/cluster/dup-member "
    "counts plus the certification pair-counts — cross-split "
    "duplicate pairs under THIS assignment (structurally 0, computed "
    "for real from per-(group, split) counts, not assumed) vs under "
    "the naive per-doc hash split (nonzero — the measured leak being "
    "prevented; pairs = (n^2 - sum k^2)/2 per group, exact "
    "integers). Scale shape: two map-side-combinable rollups on the "
    "group key plus one 1-row totals broadcast onto the 3-row split "
    "report; group keys shard uniformly (md5), no window, no "
    "all-pairs anything.",
)
def q_split_group_holdout(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.array_sort(F.array_distinct(tokens("text"))))
            ).alias("gk"),
        )
    )

    def bucket(h):
        return (
            F.when(h % 100 < 80, F.lit("train"))
            .when(h % 100 < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    lab = d.select(
        "doc_id",
        "gk",
        bucket(md5_hash64(F.concat(F.lit("gsplit:"), F.col("gk")))).alias(
            "g_split"
        ),
        bucket(
            md5_hash64(F.concat(F.lit("nsplit:"), F.col("doc_id").cast("string")))
        ).alias("n_split"),
    ).transform(ckpt)  # narrow per-doc labels; feeds 3 rollups
    grp = lab.groupBy("gk", "g_split").agg(F.count("*").cast("long").alias("n"))
    nk2 = (
        lab.groupBy("gk", "n_split")
        .agg(F.count("*").cast("long").alias("k"))
        .groupBy("gk")
        .agg(F.sum(F.col("k") * F.col("k")).cast("long").alias("sk2_naive"))
    )
    gk2 = (
        lab.groupBy("gk", "g_split")
        .agg(F.count("*").cast("long").alias("n"))
        .groupBy("gk")
        .agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("sk2_grouped"))
    )
    per_g = (
        grp.join(nk2, "gk")
        .join(gk2, "gk")
        .select(
            "gk",
            "g_split",
            "n",
            ((F.col("n") * F.col("n") - F.col("sk2_naive")) / 2)
            .cast("long")
            .alias("leak_naive"),
            ((F.col("n") * F.col("n") - F.col("sk2_grouped")) / 2)
            .cast("long")
            .alias("leak_grouped"),
        )
    )
    tot = per_g.agg(
        F.sum("leak_naive").cast("long").alias("leaky_pairs_naive"),
        F.sum("leak_grouped").cast("long").alias("leaky_pairs_grouped"),
    )
    return (
        per_g.crossJoin(F.broadcast(tot))
        .groupBy(F.col("g_split").alias("split"))
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_clusters"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.max("leaky_pairs_grouped").cast("long").alias("leaky_pairs_grouped"),
            F.max("leaky_pairs_naive").cast("long").alias("leaky_pairs_naive"),
        )
    )


# --- round-11: randomized-response (local DP) certification --------------------

_RR_P_BP = 7500  # truth-telling probability, basis points (p = 0.75)
_RR_EPSILON = 1.098612  # ln(p/(1-p)) = ln(3), the local-DP epsilon, pinned
_RR_COIN = md5_hash64_sql("'rr:' || event_id::VARCHAR")


@register(
    "privacy_randomized_response_cert",
    f"""WITH e AS (
         SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t,
                CASE WHEN ({_RR_COIN} % 10000) < {_RR_P_BP}
                     THEN 1 ELSE 0 END AS honest
         FROM events),
       r AS (SELECT t,
                    CASE WHEN honest = 1 THEN t ELSE 1 - t END AS reported
             FROM e),
       s AS (SELECT count(*)::BIGINT AS n,
                    sum(t)::BIGINT AS n_true,
                    sum(reported)::BIGINT AS n_reported
             FROM r)
       SELECT n, n_true, n_reported,
              round(n_true * 1.0 / n, 6) AS true_frac,
              round(n_reported * 1.0 / n, 6) AS observed_frac,
              round((n_reported * 1.0 / n - 0.25) / 0.5, 6)
                AS debiased_frac,
              round(abs((n_reported * 1.0 / n - 0.25) / 0.5
                        - n_true * 1.0 / n), 6) AS abs_error,
              {_RR_EPSILON!r} AS epsilon
       FROM s""",
    doc="Warner randomized-response certification — the LOCAL "
    "differential-privacy mechanism (each record randomizes before "
    "aggregation; no trusted curator, unlike privacy_dp_noisy_counts_"
    "cert's central-DP Laplace): every event reports its sensitive "
    "bit (is-purchase) truthfully with p=0.75 via a seeded "
    "deterministic coin, else flipped; the debiased estimator "
    "(obs - (1-p))/(2p-1) is certified against the true fraction, "
    "with the mechanism's epsilon = ln(p/(1-p)) = ln(3) pinned. "
    "All counts exact integers; four rounded divisions in the 1-row "
    "report. Scale shape: one scan-fused full aggregate over a "
    "per-row deterministic projection — no window, no join, flat "
    "at any event count.",
)
def q_privacy_randomized_response_cert(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64
    from annotations_ingester_spark.plans.catalog import events_table

    e = events_table(spark, sf).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("t"),
        (
            md5_hash64(
                F.concat(F.lit("rr:"), F.col("event_id").cast("string"))
            )
            % 10000
            < _RR_P_BP
        ).alias("honest"),
    )
    r = e.select(
        "t",
        F.when(F.col("honest"), F.col("t")).otherwise(1 - F.col("t")).alias(
            "reported"
        ),
    )
    s = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("n_true"),
        F.sum("reported").cast("long").alias("n_reported"),
    )
    tf = F.col("n_true") * 1.0 / F.col("n")
    of = F.col("n_reported") * 1.0 / F.col("n")
    db = (of - 0.25) / 0.5
    return s.select(
        "n",
        "n_true",
        "n_reported",
        F.round(tf, 6).alias("true_frac"),
        F.round(of, 6).alias("observed_frac"),
        F.round(db, 6).alias("debiased_frac"),
        F.round(F.abs(db - tf), 6).alias("abs_error"),
        F.lit(_RR_EPSILON).alias("epsilon"),
    )


# --- round-11: cross-source duplicate-content overlap matrix -------------------

_XS_BAG_KEY = (
    "md5(array_to_string(list_sort(list_distinct("
    + tokens_sql("text")
    + ")), ' '))"
)


@register(
    "corpus_cross_source_overlap",
    f"""WITH d AS (
         SELECT DISTINCT source, {_XS_BAG_KEY} AS gk
         FROM documents WHERE text IS NOT NULL),
       sz AS (SELECT source, count(*)::BIGINT AS n_keys
              FROM d GROUP BY source),
       pair AS (
         SELECT a.source AS source_a, b.source AS source_b,
                count(*)::BIGINT AS n_shared
         FROM d a JOIN d b ON a.gk = b.gk AND a.source < b.source
         GROUP BY 1, 2)
       SELECT p.source_a, p.source_b, p.n_shared,
              sa.n_keys AS n_keys_a, sb.n_keys AS n_keys_b,
              round(p.n_shared * 1.0
                    / (sa.n_keys + sb.n_keys - p.n_shared), 6)
                AS key_jaccard
       FROM pair p
       JOIN sz sa ON sa.source = p.source_a
       JOIN sz sb ON sb.source = p.source_b""",
    doc="Cross-source duplicate-content overlap matrix: for every source "
    "pair sharing at least one bag-of-words content fingerprint, the "
    "shared-key count and the Jaccard of their fingerprint sets — the "
    "PROVENANCE map (which crawls/feeds copy from which) that drives "
    "mixture decisions (double-counted content inflates a source's "
    "effective weight; see dedup_soft_weights for the per-doc fix and "
    "split_group_holdout for the split-safety fix). The fingerprint "
    "equi-join touches only keys present in BOTH sources — never an "
    "all-pairs source product; per-key source lists are bounded by "
    "the 20-source domain. Exact integer counts, one rounded "
    "division. Scale shape: one distinct rollup on (source, key), a "
    "self-equi-join on the key (skew-safe: md5 keys shard "
    "uniformly), one 20x20-bounded pair aggregate plus two "
    "broadcast-able size joins.",
)
def q_corpus_cross_source_overlap(spark: SparkSession, sf: str):
    d = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.md5(
                F.concat_ws(" ", F.array_sort(F.array_distinct(tokens("text"))))
            ).alias("gk"),
        )
        .distinct()
        .transform(ckpt)  # (source, key) set; feeds sizes + join
    )
    sz = d.groupBy("source").agg(F.count("*").cast("long").alias("n_keys"))
    a = d.select(F.col("source").alias("source_a"), "gk")
    b = d.select(F.col("source").alias("source_b"), "gk")
    pair = (
        a.join(b, "gk")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        pair.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n_keys").alias("n_keys_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n_keys").alias("n_keys_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_keys_a",
            "n_keys_b",
            F.round(
                F.col("n_shared")
                * 1.0
                / (F.col("n_keys_a") + F.col("n_keys_b") - F.col("n_shared")),
                6,
            ).alias("key_jaccard"),
        )
    )


# --- round-11: sentence-length distribution -------------------------------------

_SHORT_SENT_TOKENS = 4  # sentences below this are list/boilerplate suspects


@register(
    "text_sentence_stats",
    f"""WITH d AS (
         SELECT doc_id,
                list_transform(
                  list_filter(regexp_split_to_array(text, '[.!?]+'),
                              s -> trim(s) <> ''),
                  s -> len(list_filter(regexp_split_to_array(lower(s),
                         '[^a-z0-9]+'), x -> x <> ''))::BIGINT) AS sl
         FROM documents WHERE text IS NOT NULL),
       f AS (SELECT doc_id, sl FROM d WHERE len(sl) >= 1)
       SELECT doc_id, len(sl)::BIGINT AS n_sentences,
              list_sum(sl)::BIGINT AS total_tokens,
              round(list_sum(sl) * 1.0 / len(sl), 4) AS mean_sentence_tokens,
              list_max(sl)::BIGINT AS max_sentence_tokens,
              round(len(list_filter(sl, x -> x < {_SHORT_SENT_TOKENS}))
                    * 1.0 / len(sl), 6) AS short_sentence_share
       FROM f""",
    doc="Per-document sentence-length distribution: split on terminal "
    "punctuation (the text_readability_fk convention), tokenize each "
    "sentence with the shared tokenizer, and report count, total/mean/"
    "max tokens per sentence, and the share of sentences under 4 "
    "tokens — the list/boilerplate/navigation-crumb detector that "
    "complements FK readability (which only sees the MEAN rate) and "
    "the Gopher flags (which see the doc, not its sentences): a "
    "scraped nav page scores a high short-sentence share long before "
    "its mean length looks wrong. Scale shape: a single narrow "
    "scan-fused projection — sentence arrays never leave their row, "
    "no explode, no shuffle at all.",
)
def q_text_sentence_stats(spark: SparkSession, sf: str):
    sent_tokens = lambda s: F.size(  # noqa: E731
        F.filter(
            F.split(F.lower(s), "[^a-z0-9]+", -1), lambda x: x != F.lit("")
        )
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
    total = F.aggregate(
        "sl", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n_short = F.size(
        F.filter("sl", lambda x: x < F.lit(_SHORT_SENT_TOKENS))
    )
    return d.select(
        "doc_id",
        F.size("sl").cast("long").alias("n_sentences"),
        total.alias("total_tokens"),
        F.round(total * 1.0 / F.size("sl"), 4).alias("mean_sentence_tokens"),
        F.array_max("sl").cast("long").alias("max_sentence_tokens"),
        F.round(n_short * 1.0 / F.size("sl"), 6).alias("short_sentence_share"),
    )


# --- round-11 session 3: does duplication predict low quality? -------------------

_DUPQ_THRESHOLD = 0.35  # fixed quality gate (the percentile-free audit twin)


@register(
    "corpus_dup_quality_association",
    f"""WITH f AS (
         SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(list_filter(
                  regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                  x -> x <> ''))), ' ')) AS fp,
                {quality_score_sql("text")} AS q
         FROM documents WHERE text IS NOT NULL),
       g AS (SELECT fp, count(*) AS n FROM f GROUP BY fp),
       t AS (SELECT CASE WHEN g.n > 1 THEN 1 ELSE 0 END AS is_dup,
                    CASE WHEN f.q >= {_DUPQ_THRESHOLD} THEN 1 ELSE 0 END
                      AS q_pass
             FROM f JOIN g USING (fp)),
       cells AS (
         SELECT sum(CASE WHEN is_dup = 1 AND q_pass = 0 THEN 1 ELSE 0 END)
                  ::DOUBLE AS a,
                sum(CASE WHEN is_dup = 1 AND q_pass = 1 THEN 1 ELSE 0 END)
                  ::DOUBLE AS b,
                sum(CASE WHEN is_dup = 0 AND q_pass = 0 THEN 1 ELSE 0 END)
                  ::DOUBLE AS c,
                sum(CASE WHEN is_dup = 0 AND q_pass = 1 THEN 1 ELSE 0 END)
                  ::DOUBLE AS d
         FROM t)
       SELECT a::BIGINT AS dup_lowq, b::BIGINT AS dup_highq,
              c::BIGINT AS uniq_lowq, d::BIGINT AS uniq_highq,
              round((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 6)
                AS odds_ratio_haldane,
              round((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 6) > 1.0
                AS dups_skew_low_quality
       FROM cells""",
    doc="Cross-family audit joining the dedup and quality stacks: the "
    "2x2 of (bag-fingerprint duplicate membership — the "
    "dedup_bag_fingerprint key, which also catches word-reorder "
    "clones) x (quality gate >= 0.35) with "
    "the Haldane-Anscombe-corrected odds ratio — the published "
    "dedup-paper observation that duplicated text skews low-quality, "
    "measurable per corpus before deciding gate order (dedup-then-"
    "quality vs quality-then-dedup changes cost if the overlap is "
    "big; curation_gate_attrition shows the waterfall, this shows "
    "the ASSOCIATION). Exact cell counts; the +0.5 correction keeps "
    "the OR finite for empty cells. Scale shape: one fingerprint "
    "groupBy (the dedup_exact_groups shuffle) + an equi-join back, "
    "then a single 4-cell aggregate — no window, no second text scan "
    "(quality is computed in the same projection as the hash).",
)
def q_corpus_dup_quality_association(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.text import (
        bag_fingerprint,
        quality_score,
    )

    f = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            bag_fingerprint("text").alias("fp"),
            quality_score("text").alias("q"),
        )
    )
    g = f.groupBy("fp").agg(F.count("*").alias("n"))
    t = f.join(g, "fp").select(
        F.when(F.col("n") > 1, 1).otherwise(0).alias("is_dup"),
        F.when(F.col("q") >= _DUPQ_THRESHOLD, 1).otherwise(0).alias("q_pass"),
    )
    cells = t.agg(
        F.sum(F.when((F.col("is_dup") == 1) & (F.col("q_pass") == 0), 1).otherwise(0))
        .cast("double")
        .alias("a"),
        F.sum(F.when((F.col("is_dup") == 1) & (F.col("q_pass") == 1), 1).otherwise(0))
        .cast("double")
        .alias("b"),
        F.sum(F.when((F.col("is_dup") == 0) & (F.col("q_pass") == 0), 1).otherwise(0))
        .cast("double")
        .alias("c"),
        F.sum(F.when((F.col("is_dup") == 0) & (F.col("q_pass") == 1), 1).otherwise(0))
        .cast("double")
        .alias("d"),
    )
    orr = F.round(
        (F.col("a") + 0.5)
        * (F.col("d") + 0.5)
        / ((F.col("b") + 0.5) * (F.col("c") + 0.5)),
        6,
    )
    return cells.select(
        F.col("a").cast("long").alias("dup_lowq"),
        F.col("b").cast("long").alias("dup_highq"),
        F.col("c").cast("long").alias("uniq_lowq"),
        F.col("d").cast("long").alias("uniq_highq"),
        orr.alias("odds_ratio_haldane"),
        (orr > 1.0).alias("dups_skew_low_quality"),
    )


# --- round-12 session: k-fold assignment + quality/length skyline -------------

_KFOLD_K = 5


@register(
    "split_kfold_assign",
    f"""WITH a AS (
         SELECT doc_id, source,
                {md5_hash64_sql("'fold:' || doc_id::VARCHAR")} % {_KFOLD_K}
                  AS fold,
                len({tokens_sql("text")})::BIGINT AS n_tokens
         FROM documents WHERE text IS NOT NULL)
       SELECT fold::BIGINT AS fold,
              count(*)::BIGINT AS n_docs,
              sum(n_tokens)::BIGINT AS total_tokens,
              count(DISTINCT source)::BIGINT AS n_sources
       FROM a GROUP BY fold""",
    doc="Deterministic k-fold cross-validation assignment (k = 5): fold "
    "= portable-hash('fold:' || id) mod k, reported as per-fold doc/"
    "token/source tallies — the balance certificate a CV pipeline "
    "checks before training k models. Completes the split family "
    "(split_hash_assign: one train/test cut; split_stratified_sample: "
    "proportioned draw; split_group_holdout / split_temporal_holdout: "
    "leakage-safe variants) with the resampling layout evaluation "
    "actually uses; the hash makes every fold reproducible from ids "
    "alone, with no global sort or shuffle beyond the k-row rollup. "
    "Scale shape: one scan-fused projection, one k-group map-side-"
    "combinable aggregate.",
)
def q_split_kfold_assign(spark: SparkSession, sf: str):
    from annotations_ingester_spark.functions.hashing import md5_hash64

    a = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            (
                md5_hash64(
                    F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))
                )
                % _KFOLD_K
            ).alias("fold"),
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        )
    )
    return a.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


@register(
    "curation_skyline_quality",
    f"""WITH s AS (
         SELECT doc_id, {quality_score_sql("text")} AS q,
                n_chars::BIGINT AS n_chars
         FROM documents WHERE text IS NOT NULL),
       perq AS (SELECT q, max(n_chars)::BIGINT AS mq FROM s GROUP BY q),
       run AS (SELECT q,
                      max(mq) OVER (ORDER BY q DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS best_above
               FROM perq)
       SELECT s.doc_id, s.q AS quality, s.n_chars
       FROM s JOIN run USING (q)
       WHERE run.best_above IS NULL OR s.n_chars > run.best_above""",
    doc="Pareto skyline of the (quality, length) plane: the documents no "
    "other document STRICTLY dominates on both axes (higher quality "
    "AND more characters) — the efficient frontier a curation budget "
    "walks when trading document quality against context-filling "
    "length, and the 2-D generalization of quality_percentile_filter's "
    "single-axis cut. Computed with the classic sort-sweep: per "
    "distinct quality the max length, then a strictly-above running "
    "max (1-PRECEDING frame) over the quality-ordered frame — a doc "
    "survives iff it is longer than everything strictly better. The "
    "sweep window runs over the DISTINCT-QUALITY table (bounded by "
    "the 6-dp score domain, the auc_pr distinct-score class), never "
    "the corpus. Scale shape: one scan, one distinct-quality rollup, "
    "one bounded window, one equi-join back.",
)
def q_curation_skyline_quality(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.functions.text import quality_score

    s = (
        table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            quality_score("text").alias("q"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .transform(ckpt)  # feeds the per-q rollup + the join back
    )
    perq = s.groupBy("q").agg(F.max("n_chars").cast("long").alias("mq"))
    w = Window.orderBy(F.col("q").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = perq.select("q", F.max("mq").over(w).alias("best_above"))
    return (
        s.join(run, "q")
        .filter(
            F.col("best_above").isNull()
            | (F.col("n_chars") > F.col("best_above"))
        )
        .select("doc_id", F.col("q").alias("quality"), "n_chars")
    )
