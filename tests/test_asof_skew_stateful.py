"""As-of / range join, salted aggregation, and stateful streaming tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotations_ingester_spark.operators.asof import asof_join, bucketized_range_join
from annotations_ingester_spark.operators.skew import salted_count
from annotations_ingester_spark.streaming.stateful import (
    running_user_totals,
    watermarked_dedup,
)


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 205, "b"), (2, 50, "c")], "k long, t long, lv string"
    )
    right = spark.createDataFrame(
        [(1, 90, "r1"), (1, 200, "r2"), (1, 300, "r3"), (3, 10, "rx")],
        "k long, t long, rv string",
    )
    out = {
        (r["k"], r["t"]): (r["r_t"], r["r_rv"])
        for r in asof_join(left, right, on="t", by="k").collect()
    }
    assert out[(1, 100)] == (90, "r1")   # latest right ≤ 100
    assert out[(1, 205)] == (200, "r2")  # 300 is in the future
    assert out[(2, 50)] == (None, None)  # no right rows for key 2


def test_asof_join_inclusive_at_equal_ts(spark):
    left = spark.createDataFrame([(1, 200, "a")], "k long, t long, lv string")
    right = spark.createDataFrame([(1, 200, "same")], "k long, t long, rv string")
    [r] = asof_join(left, right, on="t", by="k").collect()
    assert r["r_rv"] == "same"  # at-or-before is inclusive


def test_bucketized_range_join(spark):
    ev = spark.createDataFrame(
        [(1, 0, 10), (1, 100, 11), (1, 1700, 12), (1, 4000, 13)],
        "k long, t long, eid long",
    )
    out = bucketized_range_join(
        ev.selectExpr("k", "t", "eid"),
        ev.selectExpr("k", "t", "eid"),
        on="t",
        by="k",
        max_gap=1800,
    )
    pairs = sorted((r["eid"], r["r_eid"]) for r in out.collect())
    # within 1800: (0→100), (0→1700), (100→1700); 4000 is out of range of all
    assert pairs == [(10, 11), (10, 12), (11, 12)]


def test_salted_count_matches_plain(spark):
    df = spark.createDataFrame(
        [(i % 3, i) for i in range(1000)], "k long, v long"
    )
    salted = {r["k"]: r["n"] for r in salted_count(df, ["k"]).collect()}
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert salted == plain


def test_running_user_totals_accumulates_across_batches(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    # two files → two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame([(1, 1), (1, 2), (2, 3)], "user_id long, event_id long") \
        .coalesce(1).write.parquet(src)
    spark.createDataFrame([(1, 4), (2, 5)], "user_id long, event_id long") \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("stateful_totals").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("stateful_totals").collect()
    finals = {}
    for r in rows:
        finals[r["user_id"]] = max(finals.get(r["user_id"], 0), r["total_events"])
    assert finals == {1: 3, 2: 2}  # totals accumulated across micro-batches
    assert len(rows) > 2  # more than one batch emitted per key overall


def test_watermarked_dedup_drops_in_window_dupes(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    rows = [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")]
    spark.createDataFrame(rows, "doc_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, ts timestamp").parquet(src)
    out = watermarked_dedup(stream, ["doc_id"], "ts", "10 minutes")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("wm_dedup").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.table("wm_dedup").collect())
    assert got == [1, 2]


def test_annotation_outcome_counts(spark):
    from annotations_ingester_spark.annotator.fake import DeterministicFakeAnnotator
    from annotations_ingester_spark.annotator.udf import annotate
    from annotations_ingester_spark.streaming.metrics import annotation_outcome_counts

    class HalfFailing:
        mode = "medcat"

        def annotate_batch(self, ids, texts):
            inner = DeterministicFakeAnnotator("medcat")
            return [
                None if i % 2 == 0 else e
                for i, e in zip(ids, inner.annotate_batch(ids, texts))
            ]

    docs = spark.createDataFrame(
        [(i, "a reasonably long document body") for i in range(10)],
        "doc_id long, text string",
    )
    ann = annotate(docs, HalfFailing)
    [m] = annotation_outcome_counts(ann).collect()
    # A4 failure accounting: 5 failed (B3 retry population), 5 annotated
    assert (m["n_docs"], m["n_annotated"], m["n_failed"]) == (10, 5, 5)
    assert m["n_entities"] == 5 * (len("a reasonably long document body") % 4)


def test_asof_join_multi_directions(spark):
    """Hand-checked backward/forward/tolerance semantics, including the
    inclusive equal-timestamp match in BOTH directions."""
    from annotations_ingester_spark.operators.asof import asof_join_multi

    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 205, "l2"), (1, 300, "l3"), (2, 50, "l4")],
        "k int, t long, lid string",
    )
    right = spark.createDataFrame(
        [(1, 100, "r100"), (1, 210, "r210"), (2, 500, "r500")],
        "k int, t long, rid string",
    )
    out = {
        r.lid: r
        for r in asof_join_multi(left, right, on="t", by="k", tolerance=150).collect()
    }
    # l1 at t=100: backward matches r100 (equal ts inclusive), forward too
    assert out["l1"].b_rid == "r100" and out["l1"].f_rid == "r100"
    # l2 at t=205: backward r100 (gap 105 <= 150), forward r210 (gap 5)
    assert out["l2"].b_rid == "r100" and out["l2"].f_rid == "r210"
    # l3 at t=300: backward r210 (gap 90), no forward within tolerance
    assert out["l3"].b_rid == "r210" and out["l3"].f_rid is None
    # l4 at t=50: no backward; forward r500 gap 450 > 150 → nulled
    assert out["l4"].b_rid is None and out["l4"].f_rid is None


def test_asof_join_multi_one_shuffle(spark):
    """The two directional windows must share one exchange: exactly one
    shuffle on the by key, no join nodes."""
    from annotations_ingester_spark.operators.asof import asof_join_multi

    left = spark.createDataFrame([(1, 10, "a")], "k int, t long, lid string")
    right = spark.createDataFrame([(1, 5, "b")], "k int, t long, rid string")
    plan = (
        asof_join_multi(left, right, on="t", by="k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_watermarked_dedup_drops_same_id_later_ts(spark, tmp_path):
    """A re-delivered event whose retry carries a LATER timestamp must
    still collapse onto its first arrival (dedup subset = id alone)."""
    import pandas as pd

    from annotations_ingester_spark.streaming.stateful import watermarked_dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:05:00", "2024-01-01 00:01:00"]
            ).astype("datetime64[us]"),  # micros — NANOS needs nanosAsLong
        }
    )
    pdf.to_parquet(str(tmp_path / "feed.parquet"))
    stream = spark.readStream.schema("doc_id long, ts timestamp").option(
        "pathGlobFilter", "feed.parquet"
    ).parquet(str(tmp_path))
    out = watermarked_dedup(stream, ["doc_id"], "ts", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_dedup_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT doc_id FROM wm_dedup_t").collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]
