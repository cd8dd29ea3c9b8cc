"""Packed-shard export: the training-data last mile.

A trainer does not consume a lake table; it consumes size-bounded shard
files in a deterministic order with a manifest it can verify. This module
assembles the catalog's existing primitives — the deterministic hash
shuffle order (queries_curation.corpus_shuffle_order), byte sizing, and
the order-insensitive portable checksum (integrity_table_checksum) — into
that artifact. Reference anchor: this is the sink-side analogue of W2's
split-by-field index routing (reference annotations_indexer.py:214-218)
at corpus scale: route each record to its output container, here by
byte-budget in shuffle order instead of by field value.

Determinism contract: shard assignment depends ONLY on (doc_id, text
bytes, shard_bytes) — never on partitioning, cluster size, or run order —
so re-running the export on the same corpus yields byte-identical shards
and manifest (pytest-pinned in tests/test_sharding.py).

Scale shape (100 TB): the global byte offset is the distributed
prefix-sum pattern — bucket on the top 8 bits of the 60-bit order hash
(buckets are contiguous hash ranges, so bucket order == global order),
per-bucket running byte sums in parallel windows, plus a 256-row bucket
offset table broadcast back. No single-partition window over data
anywhere; one shuffle for the window, one 256-row broadcast, one
map-side-combinable manifest aggregate. The export write is
``partitionBy(shard_id)`` with each shard's rows sorted by the order
hash — dynamic-partition parquet append, no driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from annotations_ingester_spark.functions.hashing import md5_hash64
from annotations_ingester_spark.materialize import Scope

#: Hash-range buckets for the distributed prefix sum (top 8 bits of the
#: 60-bit hash). 256 offsets always broadcast; raise the shift for more
#: parallelism at extreme scale.
ORDER_BUCKET_SHIFT = 52


def shard_assignments(
    docs: DataFrame,
    shard_bytes: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "sample",
) -> DataFrame:
    """Assign every document a deterministic shard: docs are laid out in
    the stable hash shuffle order, byte offsets are prefix-summed, and a
    doc whose payload STARTS in ``[s·shard_bytes, (s+1)·shard_bytes)``
    lands in shard ``s`` — so every shard holds ≤ shard_bytes + one
    boundary document, and assignment is reproducible from the corpus
    alone. Returns (id, n_bytes, byte_start, shard_id, row checksum h).

    ``h`` hashes (id, md5(text)) — content-addressed, so a corrupted or
    swapped payload flips the manifest checksum even at equal sizes.
    """
    rk = md5_hash64(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    d = docs.select(
        F.col(id_col),
        rk.alias("_rk"),
        # octet_length, not length: shard budgets are BYTE budgets
        # (shard_bytes packs UTF-8 payloads); char counting would let
        # non-ASCII corpora overflow a shard by up to 4x. The DuckDB
        # oracles mirror this as octet_length(encode(text)).
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        md5_hash64(
            F.concat_ws("|", F.col(id_col).cast("string"), F.md5(F.col(text_col)))
        ).alias("h"),
    ).withColumn("_bucket", F.shiftright("_rk", ORDER_BUCKET_SHIFT))
    w_in = Window.partitionBy("_bucket").orderBy(F.asc("_rk"), F.asc(id_col))
    ranked = d.withColumn(
        "_cum", F.sum("n_bytes").over(w_in.rowsBetween(Window.unboundedPreceding, 0))
    )
    counts = d.groupBy("_bucket").agg(F.sum("n_bytes").alias("_b"))
    # running total over the 256-row bucket aggregate — tiny by construction
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_b").over(w_off), F.lit(0))
    ).select("_bucket", "_off")
    return (
        ranked.join(F.broadcast(offsets), "_bucket")
        .select(
            id_col,
            "_rk",
            "n_bytes",
            "h",
            (F.col("_off") + F.col("_cum") - F.col("n_bytes")).alias("byte_start"),
        )
        .withColumn(
            "shard_id", F.floor(F.col("byte_start") / F.lit(shard_bytes)).cast("long")
        )
    )


def shard_manifest(assignments: DataFrame) -> DataFrame:
    """Collapse assignments into the verification manifest: per shard, row
    count, payload bytes, the byte range it covers, and the
    order-insensitive (count, XOR, decimal-sum) checksum triple over the
    content hashes — the same certificate integrity_table_checksum issues
    for tables, issued per shard. One map-side-combinable aggregate."""
    return assignments.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.min("byte_start").cast("long").alias("first_byte"),
        F.expr("bit_xor(h)").alias("xor_checksum"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("sum_checksum"),
    )


#: Shard count for the HASH-routed (streaming/delta) manifest family —
#: distinct from the batch exporter's byte-budget packing.
HASH_SHARD_COUNT = 16


def shard_hash_projection(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = HASH_SHARD_COUNT,
    salt: str = "sample",
) -> DataFrame:
    """The one hash-routed manifest projection — ``(id, shard_id,
    n_bytes, h)`` with ``shard_id = hash(salt:id) % n_shards`` and the
    content-addressed row hash. The streaming manifest, the manifest
    delta, and their tests all consume THIS helper so the salt,
    separator, and shard count can never drift apart from the DuckDB
    oracles that pin them (``({_SAMPLE_HASH} % 16)`` /
    ``md5(id || '|' || md5(text))``)."""
    return docs.select(
        F.col(id_col),
        (
            md5_hash64(
                F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
            )
            % n_shards
        ).alias("shard_id"),
        # byte sizing, mirrored in the oracles as octet_length(encode(..))
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        md5_hash64(
            F.concat_ws("|", F.col(id_col).cast("string"), F.md5(F.col(text_col)))
        ).alias("h"),
    )


def write_shard_manifest_partial(
    batch_df: DataFrame, store: str, batch_id: int
) -> None:
    """Land one micro-batch's per-shard partial manifest at a
    batch-id-keyed path (``{store}/batch={id}``, mode=overwrite) — the
    canonical idempotent ``foreachBatch`` discipline: Structured
    Streaming's at-least-once retry re-delivers the SAME batch_id with
    the SAME rows, so the rewrite is a no-op instead of a double-count
    (a read-modify-write running total would corrupt additive counts on
    retry). ``batch_df`` must carry (shard_id, n_bytes, h)."""
    part = batch_df.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.expr("bit_xor(h)").alias("xor_checksum"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("sum_checksum"),
    )
    part.write.mode("overwrite").parquet(f"{store}/batch={batch_id}")


def fold_shard_manifest_partials(spark, store: str) -> DataFrame:
    """Fold the per-batch partial manifests into the final manifest.
    Every column is a commutative monoid (count, byte sum, XOR, decimal
    sum), so the fold is order-free and the result equals the one-shot
    batch aggregate regardless of how the stream was micro-batched."""
    partials = spark.read.parquet(store)
    return partials.groupBy("shard_id").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_bytes").cast("long").alias("total_bytes"),
        F.expr("bit_xor(xor_checksum)").alias("xor_checksum"),
        F.sum("sum_checksum").cast("decimal(38,0)").cast("string").alias(
            "sum_checksum"
        ),
    )


def export_shards(
    docs: DataFrame,
    out_dir: str,
    shard_bytes: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Write the corpus as shard-partitioned parquet plus a manifest.

    Layout: ``{out_dir}/shards/shard_id=N/*.parquet`` (each shard's rows
    sorted by the order hash so shard content is byte-deterministic) and
    ``{out_dir}/manifest/`` (one row per shard). Returns the manifest
    DataFrame re-read from disk. Re-running on the same corpus rewrites
    identical shard contents and an identical manifest."""
    # The assignment lineage (a corpus scan + the prefix-sum window) feeds
    # BOTH the shard write (join below) and the manifest — materialize the
    # narrow (id, _rk, n_bytes, h, byte_start, shard_id) frame once so the
    # export costs one assignment pass, not two (the consumed-twice class
    # the scan-multiplicity audit pins for registered queries). It is dead
    # once both writes finish, so its blocks are freed here.
    with Scope(docs.sparkSession):
        asg = shard_assignments(
            docs, shard_bytes, id_col=id_col, text_col=text_col
        ).localCheckpoint(eager=True)
        rows = docs.join(asg.select(id_col, "_rk", "shard_id"), id_col)
        (
            rows.repartition("shard_id")
            .sortWithinPartitions("shard_id", "_rk", id_col)
            .drop("_rk")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(f"{out_dir}/shards")
        )
        shard_manifest(asg).write.mode("overwrite").parquet(f"{out_dir}/manifest")
    return docs.sparkSession.read.parquet(f"{out_dir}/manifest")
