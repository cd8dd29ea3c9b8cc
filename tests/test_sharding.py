"""Packed-shard export: determinism, coverage, and size bounds.

The contract a trainer relies on (sinks/sharding.py): re-running the
export on the same corpus yields byte-identical shards and manifest;
every document lands in exactly one shard; no shard exceeds its byte
budget by more than one boundary document.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from annotations_ingester_spark.sinks.sharding import (
    export_shards,
    shard_assignments,
    shard_manifest,
)

SF = "/root/testdata/sf0.001"
SHARD_BYTES = 16_384


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_every_doc_in_exactly_one_shard(spark):
    docs = _docs(spark)
    asg = shard_assignments(docs, SHARD_BYTES)
    assert asg.count() == docs.count()
    assert asg.select("doc_id").distinct().count() == docs.count()


def test_shard_sizes_bounded_and_contiguous(spark):
    asg = shard_assignments(_docs(spark), SHARD_BYTES)
    man = shard_manifest(asg).orderBy("shard_id").collect()
    max_doc = asg.agg(F.max("n_bytes")).first()[0]
    # every shard's payload fits the budget plus at most one boundary doc
    assert all(r.total_bytes <= SHARD_BYTES + max_doc for r in man)
    # shards are dense 0..n-1 and cover contiguous, ordered byte ranges
    assert [r.shard_id for r in man] == list(range(len(man)))
    assert all(
        man[i].first_byte < man[i + 1].first_byte for i in range(len(man) - 1)
    )
    # a doc STARTS inside its shard's byte window
    bad = asg.filter(
        F.floor(F.col("byte_start") / SHARD_BYTES) != F.col("shard_id")
    ).count()
    assert bad == 0


def test_rerun_yields_identical_manifest_and_shards(spark, tmp_path):
    docs = _docs(spark)
    m1 = export_shards(docs, str(tmp_path / "run1"), SHARD_BYTES)
    m2 = export_shards(docs, str(tmp_path / "run2"), SHARD_BYTES)
    key = lambda r: r["shard_id"]  # noqa: E731
    assert sorted(m1.collect(), key=key) == sorted(m2.collect(), key=key)
    # shard CONTENTS byte-identical: same rows in the same shard files
    s1 = spark.read.parquet(str(tmp_path / "run1" / "shards"))
    s2 = spark.read.parquet(str(tmp_path / "run2" / "shards"))
    rows1 = sorted(s1.collect(), key=lambda r: (r["shard_id"], r["doc_id"]))
    rows2 = sorted(s2.collect(), key=lambda r: (r["shard_id"], r["doc_id"]))
    assert rows1 == rows2
    # manifest certifies the shards: recount + re-checksum from the data
    recomputed = shard_manifest(
        shard_assignments(s1.select("doc_id", "text"), SHARD_BYTES)
    )
    assert sorted(recomputed.collect(), key=key) == sorted(m1.collect(), key=key)


def test_export_leaves_no_persistent_rdd(spark, tmp_path):
    """The assignment checkpoint dies inside export_shards; its blocks
    must not outlive the call."""
    from annotations_ingester_spark.materialize import live_rdd_ids

    before = live_rdd_ids(spark)
    export_shards(_docs(spark), str(tmp_path / "run"), SHARD_BYTES).collect()
    assert live_rdd_ids(spark) == before


def test_manifest_checksum_detects_payload_swap(spark):
    """Two docs swapping text keeps sizes/counts identical — only the
    content-addressed checksum can tell. It must."""
    docs = _docs(spark).select("doc_id", "text")
    ids = [r.doc_id for r in docs.orderBy("doc_id").limit(2).collect()]
    a, b = ids[0], ids[1]
    swapped = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == a, F.lit("tampered payload"))
        .otherwise(F.col("text")),
    )
    m_ok = {r.shard_id: r.sum_checksum for r in shard_manifest(
        shard_assignments(docs, SHARD_BYTES)).collect()}
    m_bad = {r.shard_id: r.sum_checksum for r in shard_manifest(
        shard_assignments(swapped, SHARD_BYTES)).collect()}
    assert m_ok != m_bad


def test_streaming_manifest_partials_idempotent_under_retry(spark, tmp_path):
    """The at-least-once contract: re-delivering the SAME micro-batch
    (same batch_id, same rows) must leave the folded manifest unchanged —
    the batch-id-keyed overwrite makes the retry a no-op, where a
    read-modify-write running total would double-count."""
    from pyspark.sql import functions as F

    from annotations_ingester_spark.sinks.sharding import (
        fold_shard_manifest_partials,
        shard_hash_projection,
        write_shard_manifest_partial,
    )

    docs = shard_hash_projection(_docs(spark))
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "store")
    write_shard_manifest_partial(b0, store, 0)
    write_shard_manifest_partial(b1, store, 1)
    once = sorted(
        fold_shard_manifest_partials(spark, store).collect(),
        key=lambda r: r.shard_id,
    )
    # retry batch 1 (same id, same rows) — must be a no-op
    write_shard_manifest_partial(b1, store, 1)
    retried = sorted(
        fold_shard_manifest_partials(spark, store).collect(),
        key=lambda r: r.shard_id,
    )
    assert retried == once
    # and the fold equals the one-shot aggregate over all docs
    oneshot = sorted(
        docs.groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias(
                "sum_checksum"
            ),
        )
        .collect(),
        key=lambda r: r.shard_id,
    )
    assert [tuple(r) for r in once] == [tuple(r) for r in oneshot]


def test_assignment_invariant_to_input_partitioning(spark):
    """The determinism contract's strongest form: shard assignment must
    not depend on how the input happens to be partitioned (a cluster
    re-reading the corpus with different splits gets identical shards)."""
    docs = _docs(spark)
    a1 = {
        r.doc_id: (r.shard_id, r.byte_start)
        for r in shard_assignments(docs.repartition(1), SHARD_BYTES).collect()
    }
    a17 = {
        r.doc_id: (r.shard_id, r.byte_start)
        for r in shard_assignments(docs.repartition(17, "text"), SHARD_BYTES).collect()
    }
    assert a1 == a17
