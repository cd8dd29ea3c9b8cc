"""Round-5 warehouse/change-data families: SCD type-2 history build,
changelog apply (MERGE INTO semantics), snapshot diffing, market-basket
association mining, and multimodal frame sampling.

These are the batch twins of the reference's live-store upsert surface
(W3 same-index merge, es_common.py:273-292): a lakehouse ingest needs the
same keyed semantics over immutable snapshots. Every entry obeys the
catalog parity rules (plans/catalog.py docstring) — prices are carried as
exact integer cents (``round(price*100)::BIGINT``) so update arithmetic
(``div(cents*11, 10)``) is integral and engine-portable, never a rounded
double product.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from annotations_ingester_spark.materialize import Scope
from annotations_ingester_spark.plans.catalog import ckpt, events_table, register, table

_CENTS = "round(o_totalprice * 100)::BIGINT"


@register(
    "scd2_dimension_build",
    """WITH e AS (
         SELECT user_id, event_type AS state,
                floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       lagd AS (
         SELECT *, lag(state) OVER (PARTITION BY user_id
                                    ORDER BY ts_s, event_id) AS prev,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_s, event_id) AS rn
         FROM e),
       runs AS (
         SELECT *, sum(CASE WHEN rn = 1 OR state IS DISTINCT FROM prev
                            THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                         ROWS UNBOUNDED PRECEDING) AS version
         FROM lagd),
       g AS (
         SELECT user_id, version::BIGINT AS version, min(state) AS state,
                min(ts_s) AS valid_from, count(*)::BIGINT AS n_events
         FROM runs GROUP BY user_id, version)
       SELECT user_id, version, state, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id
                                     ORDER BY version) AS valid_to,
              n_events
       FROM g""",
    doc="SCD type-2 dimension build: collapse each user's event-type feed "
    "into contiguous-run intervals (valid_from/valid_to, NULL-open current "
    "row, per-key version counter). One shuffle on user_id serves the lag, "
    "run-id sum, run aggregate and lead — the keyed-history primitive "
    "behind every dimension table a warehouse ingests.",
)
def q_scd2(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.changefeed import scd2_intervals

    ev = events_table(spark, sf).select(
        "user_id", F.col("event_type").alias("state"), "ts_s", "event_id"
    )
    return scd2_intervals(
        ev, key_col="user_id", state_col="state", ts_col="ts_s", tiebreak_col="event_id"
    )


@register(
    "cdc_apply_changelog",
    f"""WITH base AS (
         SELECT o_orderkey, {_CENTS} AS total_cents,
                0::BIGINT AS seq, 'I' AS op
         FROM orders),
       u1 AS (
         SELECT o_orderkey, (total_cents * 11) // 10 AS total_cents,
                1::BIGINT AS seq, 'U' AS op
         FROM base WHERE o_orderkey % 7 = 0),
       u2 AS (
         SELECT o_orderkey, (total_cents * 13) // 10 AS total_cents,
                2::BIGINT AS seq, 'U' AS op
         FROM base WHERE o_orderkey % 21 = 0),
       d AS (
         SELECT o_orderkey, total_cents, 3::BIGINT AS seq, 'D' AS op
         FROM base WHERE o_orderkey % 13 = 0),
       cl AS (
         SELECT * FROM base UNION ALL SELECT * FROM u1
         UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM d),
       latest AS (
         SELECT *, row_number() OVER (
                     PARTITION BY o_orderkey
                     ORDER BY seq DESC, op DESC,
                              md5(CASE WHEN total_cents IS NULL THEN 'n'
                                       ELSE 'v' || md5(total_cents::VARCHAR)
                                  END) ASC) AS rn
         FROM cl)
       SELECT o_orderkey, total_cents, seq AS last_seq, op
       FROM latest WHERE rn = 1 AND op <> 'D'""",
    doc="MERGE INTO semantics over immutable snapshots: replay a keyed "
    "changelog (two update generations at seq 1/2, deletes at seq 3 — "
    "synthesized deterministically from order keys) onto the base table; "
    "latest sequence wins, deletes drop the key. One shuffle on the key; "
    "prices travel as exact integer cents so the 10%%/30%% bump arithmetic "
    "(div(cents*11,10)) is integral on both engines.",
)
def q_cdc_apply(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.changefeed import apply_changelog

    base = table(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    bump = lambda mult: F.expr(f"div(total_cents * {mult}, 10)")  # noqa: E731
    u1 = (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", bump(11).alias("total_cents"))
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("op", F.lit("U"))
    )
    u2 = (
        base.filter(F.col("o_orderkey") % 21 == 0)
        .select("o_orderkey", bump(13).alias("total_cents"))
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumn("op", F.lit("U"))
    )
    d = (
        base.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("seq", F.lit(3).cast("long"))
        .withColumn("op", F.lit("D"))
    )
    changes = u1.unionByName(u2).unionByName(d)
    applied = apply_changelog(
        base, changes, key_cols=["o_orderkey"], seq_col="seq", op_col="op"
    )
    return applied.select(
        "o_orderkey", "total_cents", F.col("seq").alias("last_seq"), "op"
    )


@register(
    "snapshot_table_diff",
    f"""WITH base AS (
         SELECT o_orderkey, o_orderstatus, {_CENTS} AS cents FROM orders),
       old AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0),
       new AS (
         SELECT o_orderkey, o_orderstatus,
                cents + CASE WHEN o_orderkey % 101 = 0 THEN 100 ELSE 0 END AS cents
         FROM base WHERE o_orderkey % 89 <> 0),
       j AS (
         SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
                CASE WHEN o.o_orderkey IS NULL THEN 'added'
                     WHEN n.o_orderkey IS NULL THEN 'removed'
                     WHEN o.cents <> n.cents
                          OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
                     ELSE 'unchanged' END AS change_type
         FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
       SELECT change_type, count(*)::BIGINT AS n, sum(k)::BIGINT AS key_checksum
       FROM j GROUP BY change_type""",
    doc="Snapshot reconciliation: full-outer diff of two table snapshots "
    "(synthesized by deterministic key filters + a price bump) into "
    "added/removed/changed/unchanged classes; key_checksum (exact integer "
    "key sum per class) certifies class MEMBERSHIP, not just counts — the "
    "migration-validation companion to integrity_table_checksum. One "
    "key-shuffle full-outer join + a 4-group aggregate.",
)
def q_snapshot_diff(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.changefeed import snapshot_diff

    base = table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    old = base.filter(F.col("o_orderkey") % 97 != 0)
    new = base.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 101 == 0, F.lit(100)).otherwise(F.lit(0)),
    )
    return snapshot_diff(
        old, new, key_cols=["o_orderkey"], compare_cols=["o_orderstatus", "cents"]
    )


@register(
    "market_basket_pairs",
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       nb AS (SELECT count(DISTINCT b)::DOUBLE AS n_baskets FROM items),
       ic AS (SELECT i, count(*)::DOUBLE AS n_item FROM items GROUP BY i),
       pairs AS (
         SELECT a.i AS item_a, b2.i AS item_b, count(*)::BIGINT AS n_pair
         FROM items a JOIN items b2 ON a.b = b2.b AND a.i < b2.i
         GROUP BY a.i, b2.i),
       scored AS (
         SELECT item_a, item_b, n_pair,
                round(n_pair / nb.n_baskets, 8) AS support,
                round(n_pair / ca.n_item, 6) AS confidence_ab,
                round(n_pair * nb.n_baskets / (ca.n_item * cb.n_item), 6) AS lift
         FROM pairs
         JOIN ic ca ON ca.i = pairs.item_a
         JOIN ic cb ON cb.i = pairs.item_b
         CROSS JOIN nb)
       SELECT item_a, item_b, n_pair, support, confidence_ab, lift
       FROM scored ORDER BY n_pair DESC, item_a, item_b LIMIT 20""",
    doc="Market-basket association mining over (order, part) facts: top-20 "
    "co-occurring part pairs with support/confidence/lift. The pair "
    "expansion is a self-equi-join on the basket key — cost Σ basket² "
    "(TPC-H baskets ≤ 7 items), never cross-basket; item counts broadcast "
    "onto the pair aggregate; top-k is TakeOrderedAndProject.",
)
def q_market_basket(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.association import market_basket_pairs

    return market_basket_pairs(
        table(spark, sf, "lineitem"), basket_col="l_orderkey", item_col="l_partkey"
    )


@register(
    "media_frame_sample",
    """WITH m AS (
         SELECT doc_id AS media_id, text AS t FROM documents
         WHERE text IS NOT NULL
           AND octet_length(encode(text)) = length(text)),
       f AS (SELECT media_id, t, (length(t) // 32)::BIGINT AS n_frames FROM m),
       ix AS (
         SELECT media_id, t, n_frames, unnest(range(0, n_frames, 4)) AS fi
         FROM f WHERE n_frames > 0)
       SELECT media_id, fi::BIGINT AS frame_idx, (fi * 32)::BIGINT AS byte_offset,
              n_frames, md5(substr(t, (fi * 32 + 1)::BIGINT, 32)) AS frame_digest
       FROM ix""",
    doc="Multimodal frame sampling: each payload (documents.text re-encoded "
    "as an opaque blob — the corpus is ASCII, asserted by the octet/char "
    "length guard on BOTH engines, so byte slicing equals char slicing and "
    "the oracle stays exact) splits into 32-byte frames; every 4th frame is "
    "emitted with its offset and content digest via Arrow-batched "
    "mapInPandas. The ffmpeg-style sampler seam: a codec decode would "
    "replace md5 with pixel features at the same boundary. Frames never "
    "shuffle — the fan-out happens inside the blob's own partition.",
)
def q_frame_sample(spark: SparkSession, sf: str):
    from annotations_ingester_spark.multimodal.media import sample_frames

    docs = table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "utf-8")) == F.length("text"))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return sample_frames(media, frame_len=32, stride=4)


@register(
    "streaming_cdc_apply",
    f"""WITH base AS (
         SELECT o_orderkey, {_CENTS} AS total_cents,
                0::BIGINT AS seq, 'I' AS op
         FROM orders),
       u1 AS (
         SELECT o_orderkey, (total_cents * 11) // 10 AS total_cents,
                1::BIGINT AS seq, 'U' AS op
         FROM base WHERE o_orderkey % 7 = 0),
       u2 AS (
         SELECT o_orderkey, (total_cents * 13) // 10 AS total_cents,
                2::BIGINT AS seq, 'U' AS op
         FROM base WHERE o_orderkey % 21 = 0),
       d AS (
         SELECT o_orderkey, total_cents, 3::BIGINT AS seq, 'D' AS op
         FROM base WHERE o_orderkey % 13 = 0),
       cl AS (
         SELECT * FROM base UNION ALL SELECT * FROM u1
         UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM d),
       latest AS (
         SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                      ORDER BY seq DESC) AS rn
         FROM cl)
       SELECT o_orderkey, total_cents, seq AS last_seq, op
       FROM latest WHERE rn = 1 AND op <> 'D'""",
    doc="Streaming twin of cdc_apply_changelog, run for real: the same "
    "changelog streams in (availableNow, multiple micro-batches), and "
    "foreachBatch MERGES each batch into a keyed parquet store — "
    "latest-seq-wins with DELETE TOMBSTONES RETAINED, which is what makes "
    "the merge commutative across arbitrary micro-batch splits and "
    "arrival orders (dropping a deleted key early would let a "
    "later-arriving earlier-seq update resurrect it). Retried batches "
    "re-merge idempotently. The final read filters tombstones. At 100 TB "
    "the store is bucketed on the key so each merge shuffles only the "
    "batch side; the oracle is the batch MERGE INTO semantics verbatim.",
)
def q_streaming_cdc_apply(spark: SparkSession, sf: str):
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    base = table(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("I").alias("op"),
    )
    bump = lambda mult: F.expr(f"div(total_cents * {mult}, 10)")  # noqa: E731
    u1 = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", bump(11).alias("total_cents"),
        F.lit(1).cast("long").alias("seq"), F.lit("U").alias("op"),
    )
    u2 = base.filter(F.col("o_orderkey") % 21 == 0).select(
        "o_orderkey", bump(13).alias("total_cents"),
        F.lit(2).cast("long").alias("seq"), F.lit("U").alias("op"),
    )
    d = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "total_cents",
        F.lit(3).cast("long").alias("seq"), F.lit("D").alias("op"),
    )
    changelog = base.unionByName(u1).unionByName(u2).unionByName(d)

    # mkdtemp (not a path derived from the sf dir): run-unique, so two
    # concurrent runs on the same sf (bench + parity, or two sessions)
    # can't clobber each other's store mid-stream, and the path isn't
    # squattable on multi-user hosts. Cleaned up after the final read.
    run_dir = tempfile.mkdtemp(prefix="spark_graft_cdc_")
    feed_dir = os.path.join(run_dir, "feed")
    store = os.path.join(run_dir, "store")
    # several feed files → several micro-batches under maxFilesPerTrigger
    changelog.repartition(8).write.mode("overwrite").parquet(feed_dir)
    spark.createDataFrame(
        [], "o_orderkey long, total_cents long, seq long, op string"
    ).write.mode("overwrite").parquet(store)

    def merge(batch_df, _batch_id):
        cur = batch_df.sparkSession.read.parquet(store)
        w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
        merged = (
            cur.unionByName(batch_df)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # break lineage off the store path before overwriting it; the
        # checkpoint is dead once the store is rewritten
        with Scope(batch_df.sparkSession):
            merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(store)

    feed_schema = changelog.schema  # just wrote it — no re-listing job
    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", "3")
        .parquet(feed_dir)
    )
    q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
    q.awaitTermination()
    # Materialize off the temp store (localCheckpoint breaks the lineage
    # back to the parquet path) so the run dir can be removed before the
    # caller collects.
    result = (
        spark.read.parquet(store)
        .filter(F.col("op") != "D")
        .select("o_orderkey", "total_cents", F.col("seq").alias("last_seq"), "op")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


@register(
    "ivm_agg_maintenance",
    f"""WITH base AS (
          SELECT o_orderkey, o_custkey, {_CENTS} AS cents FROM orders),
        updated AS (
          SELECT o_orderkey, o_custkey, cents FROM base
          WHERE o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey + 1000000000, o_custkey, (cents * 11) // 10
          FROM base WHERE o_orderkey % 7 = 0)
        SELECT o_custkey, count(*)::BIGINT AS n_orders,
               sum(cents)::BIGINT AS total_cents
        FROM updated GROUP BY o_custkey""",
    doc="Incremental view maintenance (operators/changefeed.maintain_agg): "
    "a materialized per-customer (count, sum-of-cents) aggregate is "
    "maintained under a retractable changelog — retract every order with "
    "key%13=0, insert a repriced copy of every order with key%7=0 — by "
    "aggregating the DELTA alone and merging it into the stored view "
    "(count>0 groups survive). The oracle recomputes the aggregate from "
    "scratch over the updated table: IVM's defining equation, checked "
    "exactly. Scale shape: the recompute touches the corpus; maintenance "
    "touches one group-key shuffle of the day's changes plus a merge with "
    "the materialized view — at 100 TB that is the whole point of "
    "maintaining views incrementally. Integer-cents arithmetic keeps "
    "retract sums exact (no float cancellation drift).",
)
def q_ivm_agg_maintenance(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.changefeed import maintain_agg

    base = table(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # the stored materialized view (recomputed here so the query is
    # self-contained; in production this is a table read, not a scan)
    base_agg = base.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    retracts = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_custkey", F.lit(-1).alias("sign"), F.col("cents").alias("total_cents")
    )
    inserts = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_custkey",
        F.lit(1).alias("sign"),
        F.expr("div(cents * 11, 10)").alias("total_cents"),
    )
    delta = retracts.unionByName(inserts)
    return maintain_agg(
        base_agg,
        delta.select("o_custkey", "sign", F.col("total_cents")),
        key_cols=["o_custkey"],
        sign_col="sign",
        measure_cols=["total_cents"],
        count_col="n_orders",
    )


@register(
    "scd2_point_in_time_lookup",
    """WITH e AS (
         SELECT user_id, event_type AS state,
                floor(epoch(ts))::BIGINT AS ts_s, event_id
         FROM events),
       lagd AS (
         SELECT *, lag(state) OVER (PARTITION BY user_id
                                    ORDER BY ts_s, event_id) AS prev,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_s, event_id) AS rn
         FROM e),
       runs AS (
         SELECT *, sum(CASE WHEN rn = 1 OR state IS DISTINCT FROM prev
                            THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                         ROWS UNBOUNDED PRECEDING) AS version
         FROM lagd),
       dim AS (
         SELECT user_id, version::BIGINT AS version, min(state) AS state,
                min(ts_s) AS valid_from,
                lead(min(ts_s)) OVER (PARTITION BY user_id
                                      ORDER BY version) AS valid_to
         FROM runs GROUP BY user_id, version),
       probes AS (
         SELECT user_id, ts_s AS probe_ts, event_id FROM e
         WHERE event_id % 10 = 0),
       pit AS (
         SELECT p.event_id, p.user_id, p.probe_ts, d.version, d.state
         FROM probes p JOIN dim d
           ON d.user_id = p.user_id
          AND d.valid_from <= p.probe_ts
          AND (d.valid_to IS NULL OR p.probe_ts < d.valid_to))
       SELECT state, count(*)::BIGINT AS n_lookups,
              sum(version)::BIGINT AS version_checksum,
              sum(event_id)::BIGINT AS probe_checksum
       FROM pit GROUP BY state""",
    doc="Point-in-time dimension lookup against the SCD2 history — THE "
    "leakage-safety join every feature store runs (a training example "
    "must see the dimension AS OF its own timestamp, never a future "
    "version): probe events (every 10th) join the type-2 intervals "
    "built by scd2_intervals on user + [valid_from, valid_to) "
    "containment, with the open current interval matching everything "
    "since its start. Summarized per resolved state with exact "
    "version/probe checksums certifying the exact MEMBERSHIP of each "
    "resolution, not just counts. Note the half-open convention makes "
    "a probe AT a transition resolve to the NEW version — the same "
    "convention the intervals were built with, so every probe resolves "
    "exactly once (checksums would catch a double-resolve). Scale "
    "shape: both sides key on user_id (one shuffle); per-user interval "
    "counts bound the containment filter, so the join never degenerates "
    "to a range cross-product.",
)
def q_scd2_pit_lookup(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.changefeed import scd2_intervals

    ev = events_table(spark, sf).select(
        "user_id", F.col("event_type").alias("state"), "ts_s", "event_id"
    )
    dim = scd2_intervals(
        ev, key_col="user_id", state_col="state", ts_col="ts_s",
        tiebreak_col="event_id",
    ).select("user_id", "version", "state", "valid_from", "valid_to")
    probes = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", F.col("ts_s").alias("probe_ts"), "event_id"
    )
    pit = probes.join(
        dim.withColumnRenamed("state", "dim_state"), "user_id"
    ).filter(
        (F.col("valid_from") <= F.col("probe_ts"))
        & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to")))
    )
    return pit.groupBy(F.col("dim_state").alias("state")).agg(
        F.count("*").cast("long").alias("n_lookups"),
        F.sum("version").cast("long").alias("version_checksum"),
        F.sum("event_id").cast("long").alias("probe_checksum"),
    )


@register(
    "quality_constraint_suite",
    """WITH base AS (
         SELECT count(*)::BIGINT AS n_rows,
                sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS v_null,
                (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT
                  AS v_unique,
                sum(CASE WHEN NOT (o_totalprice >= 0) THEN 1 ELSE 0 END)::BIGINT
                  AS v_price,
                sum(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                         THEN 1 ELSE 0 END)::BIGINT AS v_status,
                sum(CASE WHEN NOT (year(o_orderdate) BETWEEN 1995 AND 2001)
                         THEN 1 ELSE 0 END)::BIGINT AS v_date,
                sum(CASE WHEN NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-[A-Z ]+$')
                         THEN 1 ELSE 0 END)::BIGINT AS v_prio
         FROM orders),
       ref AS (
         SELECT count(*)::BIGINT AS v_ref FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)),
       stacked AS (
         SELECT 'orderkey_not_null' AS constraint_name, n_rows, v_null AS v
           FROM base
         UNION ALL SELECT 'orderkey_unique', n_rows, v_unique FROM base
         UNION ALL SELECT 'totalprice_nonnegative', n_rows, v_price FROM base
         UNION ALL SELECT 'orderstatus_domain', n_rows, v_status FROM base
         UNION ALL SELECT 'orderdate_year_range', n_rows, v_date FROM base
         UNION ALL SELECT 'orderpriority_format', n_rows, v_prio FROM base
         UNION ALL SELECT 'custkey_ref_integrity', n_rows, v_ref
           FROM base, ref)
       SELECT constraint_name, n_rows AS n_checked, v AS n_violations,
              v = 0 AS passed
       FROM stacked ORDER BY constraint_name""",
    doc="Declarative data-quality constraint suite (the Deequ/"
    "expectations shape): seven named rules over the orders feed — "
    "completeness, key uniqueness, non-negativity, a value domain, a "
    "year range, a regex format, and referential integrity against "
    "customer — each reported as (n_checked, n_violations, passed). "
    "Domain/range/format rules count only NON-NULL non-conforming "
    "values (CASE WHEN NOT cond: a NULL predicate falls to ELSE in "
    "both engines); NULLs are the completeness rule's job. Scale "
    "shape: six rules fuse into ONE scan-level aggregate (map-side "
    "combinable; uniqueness pays the one distinct shuffle), the "
    "referential rule is one key-projected anti-join, and the report "
    "is a zero-shuffle stack over two 1-row frames.",
)
def q_quality_constraints(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    viol = lambda cond: F.sum(  # noqa: E731  (CASE WHEN NOT cond → ELSE 0 on NULL)
        F.when(~cond, 1).otherwise(0)
    ).cast("long")
    base = o.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_null"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("v_unique"),
        viol(F.col("o_totalprice") >= 0).alias("v_price"),
        viol(F.col("o_orderstatus").isin("O", "F", "P")).alias("v_status"),
        viol(F.year("o_orderdate").between(1995, 2001)).alias("v_date"),
        viol(F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")).alias("v_prio"),
    )
    ref = (
        o.select("o_custkey")
        .join(
            table(spark, sf, "customer").select(
                F.col("c_custkey").alias("o_custkey")
            ),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("v_ref"))
    )
    wide = base.crossJoin(F.broadcast(ref))
    stacked = wide.selectExpr(
        "n_rows",
        "stack(7, "
        "'orderkey_not_null', v_null, "
        "'orderkey_unique', v_unique, "
        "'totalprice_nonnegative', v_price, "
        "'orderstatus_domain', v_status, "
        "'orderdate_year_range', v_date, "
        "'orderpriority_format', v_prio, "
        "'custkey_ref_integrity', v_ref) AS (constraint_name, v)",
    )
    return stacked.select(
        "constraint_name",
        F.col("n_rows").alias("n_checked"),
        F.col("v").alias("n_violations"),
        (F.col("v") == 0).alias("passed"),
    ).orderBy("constraint_name")


@register(
    "streaming_constraint_suite",
    """WITH base AS (
         SELECT count(*)::BIGINT AS n_rows,
                sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS v_null,
                sum(CASE WHEN NOT (o_totalprice >= 0) THEN 1 ELSE 0 END)::BIGINT
                  AS v_price,
                sum(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                         THEN 1 ELSE 0 END)::BIGINT AS v_status,
                sum(CASE WHEN NOT (year(o_orderdate) BETWEEN 1995 AND 2001)
                         THEN 1 ELSE 0 END)::BIGINT AS v_date,
                sum(CASE WHEN NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-[A-Z ]+$')
                         THEN 1 ELSE 0 END)::BIGINT AS v_prio
         FROM orders),
       stacked AS (
         SELECT 'orderkey_not_null' AS constraint_name, n_rows, v_null AS v
           FROM base
         UNION ALL SELECT 'totalprice_nonnegative', n_rows, v_price FROM base
         UNION ALL SELECT 'orderstatus_domain', n_rows, v_status FROM base
         UNION ALL SELECT 'orderdate_year_range', n_rows, v_date FROM base
         UNION ALL SELECT 'orderpriority_format', n_rows, v_prio FROM base)
       SELECT constraint_name, n_rows AS n_checked, v AS n_violations,
              v = 0 AS passed
       FROM stacked ORDER BY constraint_name""",
    doc="Streaming twin of the constraint suite, run for real: orders "
    "stream in (availableNow, several micro-batches) and foreachBatch "
    "reduces each batch to ONE partial-counter row for the five "
    "BATCH-DECOMPOSABLE rules (completeness, non-negativity, domain, "
    "year range, format — every column a commutative monoid, so "
    "partials merge in any order and any batching), landed at a "
    "batch-id-keyed path (overwrite — the idempotent at-least-once "
    "discipline). Key uniqueness and referential integrity are "
    "cross-partition properties and deliberately stay in the batch "
    "suite (quality_constraint_suite): a stream would need keyed state "
    "(the streaming_incremental_dedup machinery), not counters. The "
    "final fold is O(batches); the oracle is the batch suite restricted "
    "to the same five rules — stream and batch must agree exactly.",
)
def q_streaming_constraints(spark: SparkSession, sf: str):
    import os
    import shutil
    import tempfile

    o = table(spark, sf, "orders")
    run_dir = tempfile.mkdtemp(prefix="spark_graft_constraints_")
    feed_dir = os.path.join(run_dir, "feed")
    store = os.path.join(run_dir, "store")
    try:
        o.repartition(8).write.mode("overwrite").parquet(feed_dir)

        def check(batch_df, batch_id):
            viol = lambda cond: F.sum(  # noqa: E731
                F.when(~cond, 1).otherwise(0)
            ).cast("long")
            part = batch_df.agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("v_null"),
                viol(F.col("o_totalprice") >= 0).alias("v_price"),
                viol(F.col("o_orderstatus").isin("O", "F", "P")).alias("v_status"),
                viol(F.year("o_orderdate").between(1995, 2001)).alias("v_date"),
                viol(F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")).alias(
                    "v_prio"
                ),
            )
            part.write.mode("overwrite").parquet(f"{store}/batch={batch_id}")

        feed_schema = o.schema
        stream = (
            spark.readStream.schema(feed_schema)
            .option("maxFilesPerTrigger", "3")
            .parquet(feed_dir)
        )
        q = stream.writeStream.foreachBatch(check).trigger(availableNow=True).start()
        q.awaitTermination()
        merged = spark.read.parquet(store).agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("v_null").cast("long").alias("v_null"),
            F.sum("v_price").cast("long").alias("v_price"),
            F.sum("v_status").cast("long").alias("v_status"),
            F.sum("v_date").cast("long").alias("v_date"),
            F.sum("v_prio").cast("long").alias("v_prio"),
        )
        stacked = merged.selectExpr(
            "n_rows",
            "stack(5, "
            "'orderkey_not_null', v_null, "
            "'totalprice_nonnegative', v_price, "
            "'orderstatus_domain', v_status, "
            "'orderdate_year_range', v_date, "
            "'orderpriority_format', v_prio) AS (constraint_name, v)",
        )
        return (
            stacked.select(
                "constraint_name",
                F.col("n_rows").alias("n_checked"),
                F.col("v").alias("n_violations"),
                (F.col("v") == 0).alias("passed"),
            )
            .orderBy("constraint_name")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


@register(
    "quality_value_reconciliation",
    """WITH l AS (
         SELECT l_orderkey,
                sum(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100))::BIGINT AS line_cents
         FROM lineitem GROUP BY l_orderkey),
       o AS (SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents
             FROM orders),
       j AS (
         SELECT o.cents, l.line_cents,
                CASE WHEN l.l_orderkey IS NULL THEN 'missing_lines'
                     WHEN l.line_cents = o.cents THEN 'exact'
                     WHEN abs(l.line_cents - o.cents) * 100 <= o.cents
                       THEN 'within_1pct'
                     ELSE 'mismatch' END AS recon_class
         FROM o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
       SELECT recon_class, count(*)::BIGINT AS n_orders,
              sum(coalesce(abs(line_cents - cents), 0))::BIGINT
                AS abs_diff_cents
       FROM j GROUP BY recon_class ORDER BY recon_class""",
    doc="Aggregate-level reconciliation between the order header and its "
    "lines: per order, the line-derived total (per-line rounded "
    "extendedprice*(1-disc)*(1+tax) cents, exact integer sum) against "
    "o_totalprice, classed exact / within-1% / mismatch / "
    "missing_lines — the VALUE-integrity companion to the constraint "
    "suite's key-integrity rule (header-vs-detail drift is the classic "
    "silent warehouse corruption). The 1% band is an integer "
    "cross-multiplication (abs diff * 100 <= cents), no float "
    "thresholds. Scale shape: one map-side-combinable per-order line "
    "rollup + one key-shuffle left join + a 4-class aggregate.",
)
def q_value_reconciliation(spark: SparkSession, sf: str):
    li = (
        table(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                )
            )
            .cast("long")
            .alias("line_cents")
        )
    )
    o = table(spark, sf, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left").select(
        "cents",
        "line_cents",
        F.when(F.col("l_orderkey").isNull(), "missing_lines")
        .when(F.col("line_cents") == F.col("cents"), "exact")
        .when(
            F.abs(F.col("line_cents") - F.col("cents")) * 100 <= F.col("cents"),
            "within_1pct",
        )
        .otherwise("mismatch")
        .alias("recon_class"),
    )
    return (
        j.groupBy("recon_class")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.coalesce(F.abs(F.col("line_cents") - F.col("cents")), F.lit(0)))
            .cast("long")
            .alias("abs_diff_cents"),
        )
        .orderBy("recon_class")
    )


# --- round-10: shot-boundary detection over frame signatures -----------------

_SHOT_HAMMING_T = 12  # boundary when consecutive-frame Hamming > 12 (of 32)


@register(
    "media_shot_boundaries",
    f"""WITH m AS (
         SELECT doc_id AS media_id, text AS t FROM documents
         WHERE text IS NOT NULL
           AND octet_length(encode(text)) = length(text)
           AND length(t) >= 32),
       f AS (SELECT media_id, t, (length(t) // 32)::BIGINT AS n_frames FROM m),
       ix AS (SELECT media_id, t, n_frames,
                     unnest(range(0, n_frames)) AS fi
              FROM f),
       fb AS (SELECT media_id, n_frames, fi::BIGINT AS fi,
                     list_transform(range(32),
                       i -> ascii(substr(t, (fi * 32 + i + 1)::BIGINT, 1)))
                       AS bl
              FROM ix),
       sg AS (SELECT media_id, n_frames, fi,
                     list_sum(list_transform(range(32),
                       i -> CASE WHEN bl[i + 1]
                                      >= list_sum(bl) // 32
                                 THEN (1::BIGINT << i) ELSE 0 END))
                       ::BIGINT AS sig
              FROM fb),
       lg AS (SELECT media_id, n_frames, fi, sig,
                     lag(sig) OVER (PARTITION BY media_id ORDER BY fi) AS ps
              FROM sg),
       hm AS (SELECT media_id, n_frames,
                     CASE WHEN ps IS NULL THEN NULL
                          ELSE bit_count(xor(sig, ps))::BIGINT END AS ham
              FROM lg)
       SELECT media_id, any_value(n_frames) AS n_frames,
              coalesce(sum(CASE WHEN ham > {_SHOT_HAMMING_T}
                                THEN 1 END), 0)::BIGINT AS n_boundaries,
              (coalesce(sum(CASE WHEN ham > {_SHOT_HAMMING_T}
                                 THEN 1 END), 0) + 1)::BIGINT AS n_shots,
              coalesce(round(CAST(sum(ham) AS DOUBLE) / count(ham), 4), 0.0)
                AS mean_hamming
       FROM hm GROUP BY media_id""",
    doc="Shot-boundary detection over opaque video payloads (documents "
    "re-encoded as blobs — the certified media-seam model): every "
    "32-byte frame gets a 1-D AVERAGE-HASH signature (bit i = byte i "
    ">= frame mean, the locality-sensitive analogue of the image "
    "average hash in multimodal/media.py), and a boundary fires where "
    f"consecutive frames' Hamming distance exceeds {_SHOT_HAMMING_T} "
    "of 32 — the classic histogram-difference shot detector; a codec "
    "decode would swap pixel features in at the same seam. Per media: "
    "frame count, boundary count, shot count (boundaries + 1) and "
    "mean consecutive-frame Hamming. Scale shape: Arrow-batched "
    "mapInPandas signatures inside the blob's partition (frames never "
    "shuffle a payload), one media-partitioned lag window over "
    "fixed-width scalars, one keyed aggregate.",
)
def q_media_shot_boundaries(spark: SparkSession, sf: str):
    from pyspark.sql import Window

    from annotations_ingester_spark.multimodal.media import frame_signatures

    docs = table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "utf-8")) == F.length("text"))
        & (F.length("text") >= 32)
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    sg = frame_signatures(media, frame_len=32)
    lg = sg.select(
        "media_id",
        "n_frames",
        "sig",
        F.lag("sig")
        .over(Window.partitionBy("media_id").orderBy("frame_idx"))
        .alias("ps"),
    )
    hm = lg.select(
        "media_id",
        "n_frames",
        F.when(
            F.col("ps").isNotNull(),
            F.bit_count(F.col("sig").bitwiseXOR(F.col("ps"))).cast("long"),
        ).alias("ham"),
    )
    bnd = F.coalesce(
        F.sum(F.when(F.col("ham") > _SHOT_HAMMING_T, 1)), F.lit(0)
    ).cast("long")
    return hm.groupBy("media_id").agg(
        F.first("n_frames").alias("n_frames"),
        bnd.alias("n_boundaries"),
        (bnd + 1).cast("long").alias("n_shots"),
        F.coalesce(
            F.round(F.sum("ham").cast("double") / F.count("ham"), 4), F.lit(0.0)
        ).alias("mean_hamming"),
    )


# --- round-11: open-order backlog aging ----------------------------------------


@register(
    "orders_backlog_aging",
    """WITH mx AS (SELECT max(o_orderdate) AS asof FROM orders),
       open_o AS (
         SELECT o_orderstatus AS status,
                date_diff('day', o_orderdate, mx.asof)::BIGINT AS age_days,
                round(o_totalprice * 100)::BIGINT AS cents
         FROM orders, mx WHERE o_orderstatus <> 'F'),
       b AS (SELECT status,
                    CASE WHEN age_days <= 30 THEN '00-30'
                         WHEN age_days <= 90 THEN '31-90'
                         WHEN age_days <= 365 THEN '91-365'
                         ELSE '365+' END AS age_bucket,
                    cents
             FROM open_o)
       SELECT status, age_bucket,
              count(*)::BIGINT AS n_orders,
              sum(cents)::BIGINT AS backlog_cents,
              round(avg(cents), 4) AS avg_order_cents
       FROM b GROUP BY status, age_bucket""",
    doc="Open-order backlog aging report: non-finalized orders bucketed "
    "by days outstanding relative to the dataset as-of date (max "
    "orderdate — deterministic, no wall clock), with counts and "
    "exact-cents backlog value per (status, bucket) — the working-"
    "capital / SLA triage view every order pipeline dashboards "
    "(q4_order_priority_exists counts by priority; this prices HOW "
    "LONG the open book has been open). Exact integers; one rounded "
    "average. Scale shape: one 1-row as-of broadcast onto the "
    "filtered scan (status predicate pushed down), one map-side-"
    "combinable (status x 4-bucket) aggregate — no window, flat.",
)
def q_orders_backlog_aging(spark: SparkSession, sf: str):
    orders = table(spark, sf, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("asof"))
    open_o = (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("o_orderstatus").alias("status"),
            F.datediff(F.col("asof"), F.col("o_orderdate"))
            .cast("long")
            .alias("age_days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    b = open_o.select(
        "status",
        F.when(F.col("age_days") <= 30, "00-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
        .alias("age_bucket"),
        "cents",
    )
    return b.groupBy("status", "age_bucket").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("backlog_cents"),
        F.round(F.avg("cents"), 4).alias("avg_order_cents"),
    )
